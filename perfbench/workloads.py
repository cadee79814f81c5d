"""The two workloads. Each builds its inputs from the seed in set-up,
repeats its timed unit until ``--seconds`` have passed (at least once),
checks every output outside the timed region, and fills ``ctx.e2e``
(end-to-end metrics), ``ctx.layer`` (per-layer metrics, traced run) and
``ctx.detail`` (the workload's own named figures, printed on the line
before the result).

End-to-end metrics, the same names on every workload:
- ``run_s``: wall seconds of the closed-loop work of one unit — the SSE
  drain plus both medallion cycles; the whole query mix.
- ``op_s``: the typical seconds of one operation — the median freshness
  of a live SSE event (in the better of two live windows); the geometric
  mean seconds of one query.
"""

from __future__ import annotations

import ast
import datetime as dt
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import tracing as tr
from stats import percentile, summarize

PKG = "wikistream_event_data_pipeline_aws_spark"

# medallion cycles: 10k events from 650 users over a 7-day window keep
# the sf0.1 density of ~2.2 events per user-day (so risk_scores is not
# empty) at a size whose cold cycle pair fits the run budget
MED_EVENTS = 10_000
MED_USERS = 650
MED_DAYS = 7
# SSE ingest. The live rate is about 40% of the drain rate on local[2]
# (~2.5k events/s with 5k-line batches), so a live window measures
# service time, not a queue near saturation. Two windows, about 30 s
# apart: a burst of host contention seldom covers both.
DRAIN_EVENTS = 10_000
DRAIN_DAYS = 7
MAX_LINES_PER_BATCH = 5_000
LIVE_RATE = 1_000.0
LIVE_SECONDS = 6.0
LIVE_ID_BASE = 1_000_000_000
LIVE_ID_STRIDE = 100_000_000
STREAM_WAIT_S = 60.0
# query_mix: tables at sf0.01 row counts
QM_SCALE = 0.1

EVENT_JSON_SCHEMA = "event_id bigint, ts string, user_id bigint, event_type string, value double, props string"


class Ctx:
    """What one run shares: session, seed, tracer, ledger and results."""

    def __init__(self, spark, work, seed, seconds, tracer, ledger, jobs, harness):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.ledger = ledger
        self.jobs = jobs  # tracing.JobTags in the traced run, else None
        self.harness = harness  # tests/oracle_harness module
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.fixture_s: list[float] = []
        self.warm_s = 0.0
        self.ready_t = 0.0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


class _Frame:
    """Hands an already-materialized pandas frame to the harness's
    ``compare``, which otherwise calls ``toPandas`` on a Spark frame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _units(ctx: Ctx, unit) -> list:
    """Run ``unit(i)`` until ``ctx.seconds`` have passed, at least once."""
    out = []
    t0 = time.perf_counter()
    while not out or time.perf_counter() - t0 < ctx.seconds:
        out.append(unit(len(out)))
    return out


def _build_fixture(ctx: Ctx, build, times: int = 3):
    """Build the inputs ``times`` times (identical bytes each time) and
    keep the median as the fixture part of ``setup_s``."""
    for _ in range(times):
        t = time.perf_counter()
        out = build()
        ctx.fixture_s.append(time.perf_counter() - t)
    return out


def _warm(ctx: Ctx, fn) -> None:
    """Run the warm pass ``fn`` and mark the run ready: JVM start-up and
    first-use costs (a first pass runs 2.2-2.4x slower) land in set-up,
    not in the timed units."""
    t = time.perf_counter()
    with ctx.tracer.span("setup.warm"):
        fn()
    ctx.ready_t = time.perf_counter()
    ctx.warm_s = ctx.ready_t - t


def _write_events(dest_dir: str, tbl: pa.Table) -> None:
    d = _fresh(os.path.join(dest_dir, "events.parquet"))
    pq.write_table(tbl, os.path.join(d, "part-0.parquet"))


# -- instrumentation of engine layers (traced run only) ----------------------


class Instruments:
    """Spans and counters at the engine's layer entry points. Installed
    only for the traced run; the untraced run never wraps anything."""

    LT_TAG = "perfbench-load-table"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.counts = {"upsert_rows": 0, "bytes_written": 0}
        self.restore: list = []

    def install(self) -> None:
        import importlib

        t = self.ctx.tracer
        catalog = importlib.import_module(f"{PKG}.catalog")
        merge = importlib.import_module(f"{PKG}.operators.merge")
        checks = importlib.import_module(f"{PKG}.dq.checks")
        audit = importlib.import_module(f"{PKG}.dq.audit")
        profiler = importlib.import_module(f"{PKG}.dq.profiler")
        jobs = self.ctx.jobs

        orig_lt = catalog.load_table

        def load_table(*a, **k):
            with jobs.tagged(self.LT_TAG), t.span("catalog.load_table"):
                return orig_lt(*a, **k)

        self._patch_fn(orig_lt, load_table)

        def merge_enter(spark, path, *a, **k):
            # 5 ms of slack for filesystem timestamp granularity
            return (path, time.time() - 0.005)

        def on_upsert(token, n, *a, **k):
            self.counts["upsert_rows"] += int(n or 0)
            self.counts["bytes_written"] += tr.bytes_under(token[0], token[1])

        def on_insert(token, n, *a, **k):
            self.counts["bytes_written"] += tr.bytes_under(token[0], token[1])

        self._patch_fn(
            merge.upsert_parquet,
            tr.wrap_calls(t, "merge.upsert_parquet", merge.upsert_parquet, on_upsert, merge_enter),
        )
        self._patch_fn(
            merge.insert_only_parquet,
            tr.wrap_calls(t, "merge.insert_only_parquet", merge.insert_only_parquet, on_insert, merge_enter),
        )
        self._patch_fn(
            profiler.profile_columns,
            tr.wrap_calls(t, "dq.profile_columns", profiler.profile_columns),
        )
        for cls, attr, name in (
            (checks.DQSuite, "run", "dq.suite_run"),
            (audit.AuditWriter, "write_gate", "dq.audit.write_gate"),
            (audit.AuditWriter, "latest_gate_blocked", "dq.audit.latest_gate_blocked"),
        ):
            orig = getattr(cls, attr)
            setattr(cls, attr, tr.wrap_calls(t, name, orig))
            self.restore.append((cls, attr, orig))

    def _patch_fn(self, orig, wrapper) -> None:
        tr.patch_everywhere(PKG, orig, wrapper)
        self.restore.append((None, orig, wrapper))

    def uninstall(self) -> None:
        for owner, a, b in reversed(self.restore):
            if owner is None:
                tr.patch_everywhere(PKG, b, a)
            else:
                setattr(owner, a, b)
        self.restore.clear()

    def report(self, input_bytes: int) -> None:
        tot = self.ctx.tracer.totals()
        L = self.ctx.layer

        def span(name, key="s"):
            return tot.get(name, {}).get(key, 0)

        L["catalog.load_table.calls"] = span("catalog.load_table", "calls")
        L["catalog.load_table.s"] = span("catalog.load_table")
        L["catalog.load_table.jobs"] = self.ctx.jobs.counts(self.LT_TAG)["jobs"]
        L["merge.upsert_parquet.calls"] = span("merge.upsert_parquet", "calls")
        L["merge.upsert_parquet.s"] = span("merge.upsert_parquet")
        L["merge.upsert_parquet.rows"] = self.counts["upsert_rows"]
        L["merge.insert_only_parquet.calls"] = span("merge.insert_only_parquet", "calls")
        L["merge.insert_only_parquet.s"] = span("merge.insert_only_parquet")
        L["merge.bytes_written_per_input_byte"] = (
            self.counts["bytes_written"] / input_bytes if input_bytes else 0.0
        )
        L["dq.suite_run.s"] = span("dq.suite_run")
        L["dq.audit.write_gate.s"] = span("dq.audit.write_gate")
        L["dq.audit.latest_gate_blocked.s"] = span("dq.audit.latest_gate_blocked")
        L["dq.profile_columns.s"] = span("dq.profile_columns")


def stream_layer(progress: list[dict], L: dict) -> None:
    """Per-trigger medians of the ``durationMs`` components and the
    state-store figures from StreamingQueryListener progress events."""

    # triggers that ran a batch; idle polls report no addBatch
    ran = [p for p in progress if "addBatch" in p.get("durationMs", {})]

    def med(key):
        xs = [p["durationMs"].get(key, 0) for p in ran]
        return statistics.median(xs) if xs else 0

    L["stream.batches"] = len(ran)
    L["stream.trigger_ms_p50"] = med("triggerExecution")
    L["stream.add_batch_ms_p50"] = med("addBatch")
    L["stream.query_planning_ms"] = med("queryPlanning")
    L["stream.wal_commit_ms"] = med("walCommit")
    L["stream.commit_offsets_ms"] = med("commitOffsets")
    states = [s for p in progress for s in p.get("stateOperators", [])]
    L["stream.state_rows_total"] = max((s.get("numRowsTotal", 0) for s in states), default=0)
    L["stream.state_memory_bytes"] = max((s.get("memoryUsedBytes", 0) for s in states), default=0)
    commits = [s.get("commitTimeMs", 0) for s in states]
    L["stream.state_commit_ms"] = statistics.median(commits) if commits else 0


# -- pipeline: SSE ingest, then medallion cycles ------------------------------


def _line_offset(progress: dict) -> int:
    src = (progress.get("sources") or [{}])[0]
    end = src.get("endOffset")
    if isinstance(end, str):
        # the Python data source reports its offset dict in repr form
        end = ast.literal_eval(end)
    return int(end["line"]) if end else 0


def _commit_time(progress: dict) -> float:
    start = dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + progress["durationMs"]["triggerExecution"] / 1000.0


def _await_offset(q, line: int, deadline: float) -> dict:
    """Block until a committed batch ends at or beyond ``line``."""
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        p = q.lastProgress
        if p and _line_offset(p) >= line:
            return p
        time.sleep(0.02)
    raise TimeoutError(f"stream did not reach line {line}")


def _sse_stream(ctx: Ctx, capture: str, bronze: str, ckpt: str):
    from pyspark.sql import functions as F

    from wikistream_event_data_pipeline_aws_spark.streaming.ingest import (
        start_merge_sink,
        watermark_dedup,
    )

    raw = (
        ctx.spark.readStream.format("sse_replay")
        .option("path", capture)
        .option("maxLinesPerBatch", str(MAX_LINES_PER_BATCH))
        .load()
    )
    events = (
        raw.select(F.from_json("event_json", EVENT_JSON_SCHEMA).alias("e"))
        .select("e.*")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = watermark_dedup(events, ["event_id"], "ts", "10 minutes").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    return start_merge_sink(deduped, bronze, ["event_id"], ckpt, partition_by=["event_date"])


def _bronze_problems(bronze: str, expected: set[int]) -> list[str]:
    ids = pq.read_table(bronze, columns=["event_id"]).column("event_id").to_pylist()
    problems = []
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} duplicate ids in bronze")
    got = set(ids)
    if got != expected:
        problems.append(f"bronze ids: {len(expected - got)} missing, {len(got - expected)} unexpected")
    return problems


def live_freshness(due_s: list[float], ids: list[int], base_line: int, t0: float, batches: list) -> list[float]:
    """Per live event: the commit time of the batch holding its first
    line minus the time that line was due. ``batches`` are (exclusive
    end line, commit epoch seconds) in offset order; line ``k`` of the
    live phase is capture line ``base_line + k``."""
    fresh, seen, bi = [], set(), 0
    for k, (due, eid) in enumerate(zip(due_s, ids)):
        while bi < len(batches) and batches[bi][0] <= base_line + k:
            bi += 1
        if bi == len(batches):
            break
        if eid not in seen:
            seen.add(eid)
            fresh.append(batches[bi][1] - (t0 + due))
    return fresh


def backlog_max(due_s: list[float], base_line: int, t0: float, batches: list) -> int:
    """Most lines ever available but not yet committed, at any commit."""
    import bisect

    return max(
        (base_line + bisect.bisect_right(due_s, commit - t0) - end for end, commit in batches),
        default=0,
    )


def _new_events(line_ids: list[int], first_end: int) -> int:
    """Distinct events in the drain lines after the first micro-batch."""
    return len(set(line_ids[first_end:]) - set(line_ids[:first_end]))


class SSEIngest:
    """SSE replay → ``from_json`` → ``watermark_dedup`` → insert-only
    bronze sink: a drain of a pre-written capture, then two open-loop
    live windows written by ``livegen.py``."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.base = _fresh(os.path.join(ctx.work, "sse"))
        self.capture = os.path.join(self.base, "drain.ndjson")
        self.schedules = [
            datagen.live_schedule(ctx.seed + w, LIVE_RATE, LIVE_SECONDS, LIVE_ID_BASE + w * LIVE_ID_STRIDE)
            for w in range(2)
        ]
        self.line_ids: list[int] = []
        self.late: list[dict] = []

    def build(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        ev = datagen.events_table(rng, DRAIN_EVENTS, days=DRAIN_DAYS)
        lines = datagen.capture_lines(ev, rng, dup_share=0.05)
        with open(self.capture, "w", encoding="utf-8") as f:
            f.writelines(lines)
        self.line_ids = [json.loads(line)["event_id"] for line in lines]

    def run(self, rep: int, between):
        """On a fresh capture copy, sink and checkpoint: the drain, live
        window 0, then ``between()`` while the query is stopped, then
        live window 1. Returns (drain_s, drain events/s, each window's
        freshness list, backlog max, what ``between`` returned), or None
        when the stream failed."""
        ctx = self.ctx
        n_drain = len(self.line_ids)
        d = _fresh(os.path.join(self.base, f"u{rep}"))
        cap = os.path.join(d, "capture.ndjson")
        shutil.copyfile(self.capture, cap)
        bronze = os.path.join(d, "bronze")
        ckpt = os.path.join(d, "ckpt")
        op_drain, op_live = f"drain@{rep}", f"live@{rep}"
        ctx.ledger.attempt()
        ctx.ledger.attempt()
        q = None
        try:
            t_start = time.time()
            with ctx.tracer.span("stream.drain"):
                q = _sse_stream(ctx, cap, bronze, ckpt)
                p = _await_offset(q, n_drain, t_start + STREAM_WAIT_S)
            # the first micro-batch of a fresh query is the warm pass: it
            # pays the JVM's and the streaming path's first-use costs, so
            # the drain is timed from its commit to the last drain commit
            first = next(x for x in q.recentProgress if _line_offset(x) > 0)
            first_end, first_commit = _line_offset(first), _commit_time(first)
            if rep == 0:
                ctx.warm_s = first_commit - t_start
                ctx.ready_t = time.perf_counter() - (time.time() - first_commit)
            drain_s = _commit_time(p) - first_commit
            drain_events = _new_events(self.line_ids, first_end)
            live = [self._live(q, cap, n_drain, 0, d)]
            # an idle query polls the source back to back, and every poll
            # counts the capture's lines (see NOTES.md): stopped while
            # ``between`` runs, restarted from its checkpoint after
            q.stop()
            out = between()
            q = _sse_stream(ctx, cap, bronze, ckpt)
            live.append(self._live(q, cap, n_drain + len(self.schedules[0]), 1, d))
            q.stop()
        except Exception as e:  # noqa: BLE001 - a stream failure fails both phases
            traceback.print_exc()
            ctx.ledger.fail(op_drain, f"raised {type(e).__name__}: {e}".splitlines()[0][:300])
            ctx.ledger.fail(op_live, "not run: the stream failed")
            if q is not None:
                q.stop()
            return None
        expected = set(self.line_ids) | {r[1] for sched in self.schedules for r in sched}
        problems = _bronze_problems(bronze, expected)
        ctx.ledger.check(op_drain, problems)
        ctx.ledger.check(op_live, problems)
        return drain_s, drain_events / drain_s, [f for f, _ in live], max(b for _, b in live), out

    def _live(self, q, cap: str, base_line: int, w: int, d: str):
        """Live window ``w``: ``livegen.py`` appends schedule ``w`` to the
        capture from line ``base_line`` on while ``q`` runs. Returns the
        freshness of each of its events and the most lines ever waiting."""
        ctx = self.ctx
        sched = self.schedules[w]
        t0 = time.time() + 0.5
        summary = os.path.join(d, f"livegen{w}.json")
        gen = subprocess.Popen(
            [
                sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "livegen.py"),
                "--path", cap, "--seed", str(ctx.seed + w), "--rate", str(LIVE_RATE),
                "--seconds", str(LIVE_SECONDS), "--id-base", str(LIVE_ID_BASE + w * LIVE_ID_STRIDE),
                "--t0", repr(t0), "--summary", summary,
            ]
        )
        try:
            with ctx.tracer.span("stream.live"):
                _await_offset(q, base_line + len(sched), t0 + LIVE_SECONDS + STREAM_WAIT_S)
            gen.wait(timeout=30)
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
        with open(summary) as f:
            self.late.append(json.load(f))
        batches = sorted(
            (_line_offset(p), _commit_time(p))
            for p in q.recentProgress
            if p.get("durationMs", {}).get("triggerExecution")
        )
        due = [r[0] for r in sched]
        fresh = live_freshness(due, [r[1] for r in sched], base_line, t0, batches)
        return fresh, backlog_max(due, base_line, t0, batches)

    def single_core(self) -> float:
        """One drain (no live phase): the local[1] baseline pass. Returns
        events committed per second after the first micro-batch."""
        from wikistream_event_data_pipeline_aws_spark.sources import SSEReplayDataSource

        ctx = self.ctx
        ctx.spark.dataSource.register(SSEReplayDataSource)
        d = _fresh(os.path.join(self.base, "single"))
        ctx.ledger.attempt()
        try:
            t_start = time.time()
            with ctx.tracer.span("single_core.drain"):
                q = _sse_stream(ctx, self.capture, os.path.join(d, "bronze"), os.path.join(d, "ckpt"))
                p = _await_offset(q, len(self.line_ids), t_start + STREAM_WAIT_S)
            first = next(x for x in q.recentProgress if _line_offset(x) > 0)
            q.stop()
        except Exception as e:  # noqa: BLE001 - reported as a failed operation
            traceback.print_exc()
            ctx.ledger.fail("single_core_drain", f"raised {type(e).__name__}: {e}".splitlines()[0][:300])
            return 0.0
        events = _new_events(self.line_ids, _line_offset(first))
        return events / (_commit_time(p) - _commit_time(first))


def _gold_problems(ctx: Ctx, warehouse: str, inputs: list[str]) -> list[str]:
    """Gold tables against the plans/wiki.py oracle SQL over the distinct
    union of every cycle input so far (read with DuckDB, no Spark job)."""
    import duckdb

    from wikistream_event_data_pipeline_aws_spark.plans import wiki

    con = duckdb.connect()
    files = ", ".join(f"'{p}/events.parquet/*.parquet'" for p in inputs)
    con.execute(f"CREATE VIEW events AS SELECT DISTINCT * FROM read_parquet([{files}])")
    problems = []
    for table, partitioned in (("hourly_stats", True), ("risk_scores", True), ("daily_summary", False)):
        path = os.path.join(warehouse, "gold", table)
        src = (
            f"read_parquet('{path}/*/*.parquet', hive_partitioning = true, hive_types_autocast = false)"
            if partitioned
            else f"read_parquet('{path}/*.parquet')"
        )
        got = con.execute(f"SELECT * FROM {src}").df()
        want = con.execute(wiki.ORACLES[table]).df()
        problems += [f"{table}: {p}" for p in ctx.harness.compare(_Frame(got), want)]
    con.close()
    return problems


class Medallion:
    """``Pipeline.run`` twice on a fresh warehouse: an initial load, then
    the held-out events plus re-delivered copies of loaded ones."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.base = _fresh(os.path.join(ctx.work, "medallion"))
        self.c1 = os.path.join(self.base, "c1")
        self.c2 = os.path.join(self.base, "c2")
        self.steps: dict[str, list[float]] = {}

    def build(self) -> None:
        rng = np.random.default_rng(self.ctx.seed + 1)
        ev = datagen.events_table(rng, MED_EVENTS, users=MED_USERS, days=MED_DAYS)
        perm = rng.permutation(ev.num_rows)
        k = int(ev.num_rows * 0.9)
        c1 = ev.take(np.sort(perm[:k]))
        redelivered = c1.take(np.sort(rng.choice(k, int(ev.num_rows * 0.05), replace=False)))
        c2 = pa.concat_tables([ev.take(np.sort(perm[k:])), redelivered])
        _write_events(self.c1, c1)
        _write_events(self.c2, c2)

    def input_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, "events.parquet", "part-0.parquet")) for d in (self.c1, self.c2))

    def cycle(self, pipe, cycle: str, inputs: list[str], op: str) -> float | None:
        """One checked cycle loading ``inputs[-1]``; returns its wall
        seconds, or None if it raised."""
        ctx = self.ctx
        t = time.perf_counter()
        with ctx.tracer.span(f"pipeline.run.{cycle}"):
            report = ctx.ledger.run(op, pipe.run, sf_dir=inputs[-1])
        secs = time.perf_counter() - t
        if report is None:
            return None
        problems = [f"{s.name} {s.status}" for s in report.steps if s.status != "OK"]
        if not problems:
            problems = _gold_problems(ctx, pipe.warehouse, inputs)
        ctx.ledger.check(op, problems)
        for s in report.steps:
            self.steps.setdefault(f"pipeline.{cycle}.{s.name}_s", []).append(s.seconds)
            if not s.name.endswith("_dq"):
                self.steps.setdefault(f"pipeline.{cycle}.{s.name}.rows", []).append(s.rows)
        return secs

    def run(self, rep: int):
        """Both cycles on a fresh warehouse; (initial, incremental)
        seconds, or None if either raised."""
        from wikistream_event_data_pipeline_aws_spark.pipeline import Pipeline

        pipe = Pipeline(self.ctx.spark, _fresh(os.path.join(self.base, f"wh{rep}")))
        initial = self.cycle(pipe, "initial", [self.c1], f"initial_cycle@{rep}")
        if initial is None:
            return None
        incremental = self.cycle(pipe, "incremental", [self.c1, self.c2], f"incremental_cycle@{rep}")
        return None if incremental is None else (initial, incremental)

    def single_core(self) -> float:
        """Cycle 1 once on a fresh warehouse: the local[1] baseline pass."""
        from wikistream_event_data_pipeline_aws_spark.pipeline import Pipeline

        pipe = Pipeline(self.ctx.spark, _fresh(os.path.join(self.base, "wh-single")))
        with self.ctx.tracer.span("single_core.initial_cycle"):
            return self.cycle(pipe, "single_core", [self.c1], "single_core_initial_cycle") or 0.0


def pipeline(ctx: Ctx) -> tuple[SSEIngest, Medallion]:
    """The paper's path in one JVM: the SSE drain into bronze, the two
    medallion cycles, then the live tail into bronze. Returns the phases
    for the single-core baseline pass of a traced run."""
    from wikistream_event_data_pipeline_aws_spark.sources import SSEReplayDataSource

    sse, med = SSEIngest(ctx), Medallion(ctx)
    _build_fixture(ctx, lambda: (sse.build(), med.build()))
    ctx.spark.dataSource.register(SSEReplayDataSource)
    listener = None
    if ctx.traced:
        listener = tr.stream_listener_class()()
        ctx.spark.streams.addListener(listener)
    inst = Instruments(ctx) if ctx.traced else None
    if inst:
        inst.install()

    def unit(rep: int):
        s = sse.run(rep, lambda: med.run(rep))
        return None if s is None or s[4] is None else (s[:4], s[4])

    done = [u for u in _units(ctx, unit) if u is not None]
    if inst:
        inst.uninstall()
    if listener is not None:
        ctx.spark.streams.removeListener(listener)
    L = ctx.layer
    if done:
        drain_s = [s[0] for s, _ in done]
        eps = [s[1] for s, _ in done]
        windows = [w for s, _ in done for w in s[2]]
        fresh = [f for w in windows for f in w]
        window_p50 = [statistics.median(w) for w in windows]
        initial = [m[0] for _, m in done]
        incremental = [m[1] for _, m in done]
        fs = summarize(fresh)
        ctx.e2e["run_s"] = statistics.median(s[0] + m[0] + m[1] for s, m in done)
        # the better live window: contention from other tenants comes in
        # bursts of 5-10 s and only ever slows a window (NOTES.md)
        ctx.e2e["op_s"] = min(window_p50)
        ctx.detail.update(
            units=len(done),
            drain_s=statistics.median(drain_s),
            drain_events_per_s=statistics.median(eps),
            freshness_p50_s=fs["p50"],
            freshness_window_p50_s=window_p50,
            freshness_p95_s=percentile(fresh, 95),
            freshness_samples=len(fresh),
            freshness=fs,
            generator_late_ms_p99=max(x["late_ms_p99"] for x in sse.late),
            initial_cycle_s=statistics.median(initial),
            incremental_cycle_s=statistics.median(incremental),
        )
        L["sse.drain_events_per_s"] = ctx.detail["drain_events_per_s"]
        L["sse.freshness_p50_s"] = fs["p50"]
        L["sse.freshness_p95_s"] = ctx.detail["freshness_p95_s"]
        L["sse.backlog_lines_max"] = max(s[3] for s, _ in done)
        L["generator.late_ms_p99"] = ctx.detail["generator_late_ms_p99"]
        L["medallion.initial_cycle_s"] = ctx.detail["initial_cycle_s"]
        L["medallion.incremental_cycle_s"] = ctx.detail["incremental_cycle_s"]
    for k, v in med.steps.items():
        L[k] = statistics.median(v)
    if listener is not None:
        prog = listener.progress
        stream_layer(prog, L)
        lat = [p["durationMs"].get("latestOffset", 0) for p in prog if p.get("durationMs")]
        L["sse.latest_offset_ms"] = statistics.median(lat) if lat else 0
    if inst:
        inst.report((os.path.getsize(sse.capture) + med.input_bytes()) * max(1, len(done)))
    return sse, med


# -- query_mix ----------------------------------------------------------------


def rows_to_pandas(rows, schema):
    """Collected rows as the pandas frame ``DataFrame.toPandas`` would
    give (pyspark's own per-type converters), without another Spark job."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names = [f.name for f in schema.fields]
    if not rows:
        pdf = pd.DataFrame(columns=names)
    else:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names)
    if not names:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(f.dataType, f.nullable, timezone="UTC", struct_in_pandas="dict")(ser)
            for (_, ser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def load_mix(path: str) -> tuple[list[str], list[str]]:
    """The pinned mix and its warm list (the short SQL queries, run once
    in set-up so the timed mix sees them with warm code paths)."""
    with open(path) as f:
        spec = json.load(f)
    return spec["queries"], spec["warm"]


def query_mix(ctx: Ctx, mix: list[str], warm: list[str]) -> None:
    from wikistream_event_data_pipeline_aws_spark import registry
    from wikistream_event_data_pipeline_aws_spark.operators import memo

    data = os.path.join(ctx.work, "qm_data")
    _build_fixture(ctx, lambda: datagen.write_tables(data, ctx.seed, QM_SCALE))
    queries, oracles = registry.queries(), registry.oracles()
    missing = [q for q in mix + warm if q not in queries or q not in oracles]
    if missing:
        raise SystemExit(f"query_mix names queries without a builder or oracle: {missing}")
    # the short queries once: the median query then tracks their fixed
    # overhead, not their first use. Warming the whole mix as well took
    # 28-36 s per run, which the run budget cannot hold.
    _warm(ctx, lambda: [queries[name](ctx.spark, data).collect() for name in warm])
    listener = None
    if ctx.traced:
        listener = tr.stream_listener_class()()
        ctx.spark.streams.addListener(listener)
    inst = Instruments(ctx) if ctx.traced else None
    if inst:
        inst.install()
    L = ctx.layer
    for k in ("plans.builder_s", "plans.action_s", "plans.catalyst_s"):
        L[k] = 0.0
    for k in ("plans.builder_jobs", "plans.action_jobs", "plans.action_stages", "plans.action_tasks"):
        L[k] = 0

    def unit(rep: int):
        memo.reset_memos()
        # collect what the previous pass and the reset released before
        # the first query is timed, in both processes
        gc.collect()
        ctx.spark._jvm.java.lang.System.gc()
        m0 = len(memo.MEMO_EVENTS)
        secs, results, build_s = {}, {}, 0.0
        # the pinned order, not a seeded one: the first consumer of a
        # shared memo kernel builds it, so a seeded order moved kernel
        # work between queries and changed the mix's total (NOTES.md)
        for i, name in enumerate(mix):
            e0 = len(memo.MEMO_EVENTS)

            def one():
                tb, ta = f"pb-b-{rep}-{i}", f"pb-a-{rep}-{i}"
                t = time.perf_counter()
                with ctx.tracer.span("query"):
                    if ctx.jobs is None:
                        df = queries[name](ctx.spark, data)
                        rows = df.collect()
                    else:
                        with ctx.jobs.tagged(tb), ctx.tracer.span("plans.builder"):
                            df = queries[name](ctx.spark, data)
                        tm = time.perf_counter()
                        with ctx.jobs.tagged(ta), ctx.tracer.span("plans.action"):
                            rows = df.collect()
                        ta_s = time.perf_counter() - tm
                elapsed = time.perf_counter() - t
                if ctx.jobs is not None:
                    b, a = ctx.jobs.counts(tb), ctx.jobs.counts(ta)
                    L["plans.builder_s"] += elapsed - ta_s
                    L["plans.action_s"] += ta_s
                    L["plans.builder_jobs"] += b["jobs"]
                    L["plans.action_jobs"] += a["jobs"]
                    L["plans.action_stages"] += a["stages"]
                    L["plans.action_tasks"] += a["tasks"]
                    L["plans.catalyst_s"] += tr.catalyst_seconds(df)
                return elapsed, df.schema, rows

            out = ctx.ledger.run(f"{name}@{rep}", one)
            if out is None:
                continue
            secs[name] = out[0]
            results[name] = out[1:]
            if any(kind == "build" for kind, _ in memo.MEMO_EVENTS[e0:]):
                build_s += out[0]
        return secs, results, memo.MEMO_EVENTS[m0:], build_s

    done = _units(ctx, unit)
    if inst:
        inst.uninstall()
    if listener is not None:
        ctx.spark.streams.removeListener(listener)
    # correctness, outside the timed region: every result against its
    # DuckDB oracle over the same generated tables
    con = ctx.harness.duckdb_con(data)
    want = {name: con.execute(oracles[name]).df() for name in mix}
    con.close()
    for rep, (_, results, _, _) in enumerate(done):
        for name, (schema, rows) in results.items():
            got = _Frame(rows_to_pandas(rows, schema))
            ctx.ledger.check(f"{name}@{rep}", ctx.harness.compare(got, want[name]))
    totals = [sum(s.values()) for s, _, _, _ in done if len(s) == len(mix)]
    per_query = [v for s, _, _, _ in done for v in s.values()]
    if totals:
        ctx.e2e["run_s"] = statistics.median(totals)
    if per_query:
        # the geometric mean, not the median: the mix's per-query times
        # cluster, and the median query sat in a gap between clusters,
        # so it jumped with one query's time (NOTES.md)
        ctx.e2e["op_s"] = statistics.geometric_mean(per_query)
        qs = summarize(per_query)
        ctx.detail.update(
            units=len(done),
            query_mix_s=ctx.e2e.get("run_s"),
            query_geomean_s=ctx.e2e["op_s"],
            query_p50_s=qs["p50"],
            query_s=qs,
            per_query_s={k: round(v, 3) for k, v in done[0][0].items()},
        )
        L["query_mix.query_mix_s"] = ctx.e2e.get("run_s", 0.0)
        L["query_mix.query_p50_s"] = qs["p50"]
    n = max(1, len(done))
    for k in list(L):
        if k.startswith("plans."):
            L[k] = L[k] / n
    events = [e for _, _, ev, _ in done for e in ev]
    builds = sum(1 for kind, _ in events if kind == "build")
    hits = sum(1 for kind, _ in events if kind == "hit")
    L["memo.builds"] = builds / n
    L["memo.hits"] = hits / n
    L["memo.hit_ratio"] = hits / (builds + hits) if builds + hits else 0.0
    L["memo.build_query_s"] = statistics.median(b for _, _, _, b in done) if done else 0.0
    if listener is not None:
        stream_layer(listener.progress, L)
    if inst:
        inst.report(sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)))
