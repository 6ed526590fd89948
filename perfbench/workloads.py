"""The benchmark workloads.

Each workload times the engine from outside, through its public entry
points only (``ReplayPipeline``, ``StreamingReplay``, ``SnapshotTable``,
``AggregateConsumer`` and the model specs), and checks the final state
against the DuckDB oracle outside the timed region.

backfill_models  closed loop, one client. Drains a static backlog through
                 ``ReplayPipeline(mode="mor")`` in large batches while
                 maintaining the CONVERSATIONS model (MOR), an
                 ``AggregateConsumer`` and a maintenance cadence, then a final
                 ``compact()``. Loads sources, json_doc, lww, format
                 append/compact/expiry, models and ivm; bypasses merge and
                 reads. Its throughput is mostly the fixed per-batch cost of
                 the model plane and IVM; scan, json_doc and lww are a few
                 percent of a batch.
tail_upsert      open loop: one generator thread writes a tick file every
                 1/TAIL_TICKS_PER_S s into a directory tailed by
                 ``StreamingReplay`` (COW merge, fixed poll) over a preloaded
                 table, while one closed-loop client issues point lookups.
                 Loads merge bucket rewrites, the per-batch driver and commit
                 cost and the read path; little json_doc/lww work and no
                 models. Lookup latency is printed, not bounded: on a shared
                 4-core machine its median moves between runs by about the
                 largest bound allowed. The notes give the host's CPU steal
                 over the measured window, which is what moves freshness
                 between runs on a shared machine.

Sizes are set so one run fits the per-run time a 4-core machine allows: the
engine's cost per batch is mostly fixed (plans, jobs, commits), so a pass is
a few large batches rather than many small ones.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

from feeds import (
    SOURCES,
    TailFeed,
    TailGenerator,
    backlog_feed,
    dir_bytes,
    parquet_files,
    write_rows,
)
from oracle import Oracle

NUM_BUCKETS = 4
# backfill_models: ~14.5k events per pass in two batches, maintenance after 2
BACKLOG_CONVS, BACKLOG_HOT_TURNS, BACKLOG_BATCH, MAINTAIN_EVERY = 1000, 200, 8_000, 2
# the discarded warm-up pass: a small backlog in one batch through the model
# plane and the IVM aggregate (two batches, to reach maintenance too, cost
# 34 s on a cold JVM, more than a run can spare)
WARM_CONVS, WARM_HOT_TURNS = 100, 20
# tail_upsert: 30k preloaded turns, so the ~150 new turns a second add
# little to the table each COW commit rewrites; 10 ticks/s x 50 events =
# 500 events/s
TAIL_CONVS, TAIL_TURNS = 300, 100
TAIL_TICKS_PER_S, TAIL_EVENTS_PER_TICK = 10, 50
# a fixed poll (the reference watcher polls every 5 s) makes the batch count
# per window repeat from run to run; 8 s is about twice a warm batch beside
# the lookups (3.5-4 s on 4 cores), so a slower machine does not push the
# tail into a growing backlog
TAIL_POLL_S = 8
TAIL_WARMUP_S = TAIL_POLL_S  # open-loop warm-up before the measured window
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "_deleted", "_rev", "seq"]
AGG_COLS = ["conv_id", "n_rows", "chars", "max_h"]
AGG_SQL = "count(*), sum(length(text)), max(rev_height)"


@dataclass
class Ctx:
    spark: object
    run_dir: str
    cache_dir: str
    seed: int
    seconds: float
    cores: int
    trace_log: str | None  # Spark event log dir when tracing


@dataclass
class Outcome:
    e2e: dict[str, float]
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    window: tuple[float, float, str] | None = None  # traced (t0, t1, batch span)


def log(msg: str) -> None:
    """Progress line with the process clock (stdout, before the result)."""
    print(f"[{time.perf_counter():8.2f}] {msg}", flush=True)


def pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q))


def fresh_dir(ctx: Ctx, name: str) -> str:
    path = os.path.join(ctx.run_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def lookup_once(spark, table_path: str, conv: str) -> tuple[float, int, bool]:
    """One point lookup through a fresh table handle: (ms, files opened, ok)."""
    from cht_sync_spark.tables.format import SnapshotTable

    t = SnapshotTable(spark, table_path)
    t0 = time.perf_counter()
    rows = t.read_current(filters=[("conv_id", "=", conv)], drop_tombstones=True).collect()
    ms = (time.perf_counter() - t0) * 1000.0
    return ms, t.last_scan_files, all(r["conv_id"] == conv for r in rows)


class LookupClient:
    """Closed-loop point-lookup client (one thread), Zipf-skewed over the
    given conversations like the writes."""

    def __init__(self, spark, table_path: str, convs: list[str], seed: int, tracer=None):
        self.spark, self.table_path, self.convs = spark, table_path, convs
        self.rng = np.random.default_rng(seed + 7)
        w = 1.0 / np.arange(1, len(convs) + 1) ** 1.1
        self.p = w / w.sum()
        self.tracer = tracer
        self.samples: list[tuple[float, float, int]] = []  # (start, ms, files)
        self.failed = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def one(self) -> None:
        conv = self.convs[int(self.rng.choice(len(self.convs), p=self.p))]
        start = time.time()
        span = self.tracer.span("format.read_current") if self.tracer else nullcontext()
        try:
            with span:
                ms, files, ok = lookup_once(self.spark, self.table_path, conv)
        except Exception:  # a failed lookup is counted, the client keeps going
            self.failed += 1
            return
        if not ok:
            self.failed += 1
        self.samples.append((start, ms, files))

    def _loop(self) -> None:
        # reads get their own pool under the FAIR scheduler, as a deployment
        # serving reads beside ingest would set it up
        self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reads")
        while not self._stop.is_set():
            self.one()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(120)


def engine_state(ctx: Ctx, table, name: str, cols: list[str]) -> str:
    path = fresh_dir(ctx, f"check-{name}")
    table.read_current().select(*cols).write.parquet(path)
    return path


def cpu_jiffies() -> list[int]:
    """The machine's aggregate CPU time counters (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies()`` readings: the host noise behind a slow run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus all its descendants (the JVM)."""
    me = os.getpid()
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {me}, [me]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb: dict[int, int] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb[pid] = int(line.split()[1])
        except OSError:
            continue
    log(f"peak rss: python {kb.get(me, 0) / 1024:.0f} MB, total {sum(kb.values()) / 1024:.0f} MB")
    return sum(kb.values()) / 1024.0


# --------------------------------------------------------------------------
# closed-loop replay (backfill_models)
# --------------------------------------------------------------------------


class Replay:
    """One closed-loop drain of a static feed into fresh tables, recording
    per epoch when each target committed it."""

    def __init__(self, ctx: Ctx, feed_path: str, name: str, batch: int):
        from pyspark.sql import functions as F

        from cht_sync_spark.operators.models import CONVERSATIONS
        from cht_sync_spark.sources.changes import ChangesFeedSource
        from cht_sync_spark.streaming import AggregateConsumer, Measure, ReplayPipeline

        self.root = fresh_dir(ctx, name)
        feed = ChangesFeedSource(ctx.spark, feed_path, sources=SOURCES)
        self.pipe = ReplayPipeline(
            ctx.spark, feed, f"{self.root}/landing", batch_size=batch,
            num_buckets=NUM_BUCKETS, mode="mor",
            models=[(CONVERSATIONS, f"{self.root}/conversations")],
            model_mode="mor",
            maintenance_every=MAINTAIN_EVERY,
        )
        measures = {"chars": F.length("text"), "max_h": Measure(F.col("rev_height"), kind="max")}
        tgt = AggregateConsumer.create_target(
            ctx.spark, self.pipe.table, f"{self.root}/agg", ["conv_id"], measures,
            num_buckets=NUM_BUCKETS,
        )
        self.agg = AggregateConsumer(ctx.spark, self.pipe.table, tgt, "agg", ["conv_id"], measures)
        self.pipe.consumers.append(self.agg)
        self.epochs: list[dict] = []
        self.t_start = 0.0
        run_batch = self.pipe.run_batch

        def timed_batch(epoch, lo, hi):
            # delta files a batch's model and IVM reads reconcile
            deltas = sum(1 for f in self.pipe.table.snapshot().files if f["level"] == "delta")
            res = run_batch(epoch, lo, hi)
            self.epochs.append({
                "landing": self.pipe.table.snapshot().committed_at,
                "models": [m.table.snapshot().committed_at for m in self.pipe.models],
                "delta_files": deltas,
            })
            return res

        self.pipe.run_batch = timed_batch
        agg_run = self.agg.run

        def timed_agg(*a, **k):
            out = agg_run(*a, **k)
            self.epochs[-1]["agg"] = self.agg.target.snapshot().committed_at
            return out

        self.agg.run = timed_agg

    def drain(self) -> tuple[float, int]:
        """(seconds, events) for the drain plus the final compaction."""
        self.t_start = time.time()
        t0 = time.perf_counter()
        results = self.pipe.run()
        self.pipe.table.compact()
        return time.perf_counter() - t0, sum(r.rows for r in results)

    def _visible(self, e: dict) -> float:
        return max([e["landing"], *e["models"], e.get("agg", 0.0)])

    def freshness_ms(self) -> list[float]:
        """Per batch, in a closed loop: from when the engine had made the
        previous batch visible (the drain start for the first) to the last
        commit that makes this batch visible in every target."""
        out, due = [], self.t_start
        for e in self.epochs:
            out.append((self._visible(e) - due) * 1000.0)
            due = self._visible(e)
        return out

    def model_lag_ms(self) -> list[float]:
        """Per batch: landing commit -> last model or IVM commit."""
        return [(self._visible(e) - e["landing"]) * 1000.0 for e in self.epochs]

    def table_bytes(self) -> int:
        return dir_bytes(self.root)


def backfill_models(ctx: Ctx, tracer) -> Outcome:
    from tracing import prefix_split, span_metrics

    t_setup = time.perf_counter()
    feed = backlog_feed(ctx.cache_dir, ctx.seed, BACKLOG_CONVS, BACKLOG_HOT_TURNS)
    warm = backlog_feed(ctx.cache_dir, ctx.seed + 1, WARM_CONVS, WARM_HOT_TURNS)
    warm_s, _ = Replay(ctx, warm, "warmup", BACKLOG_BATCH).drain()
    log(f"warm-up drain: {warm_s:.2f}s")
    first: Replay | None = Replay(ctx, feed, "pass0", BACKLOG_BATCH)
    setup_s = time.perf_counter() - t_setup
    feed_bytes = dir_bytes(feed)
    attempted = failed = 0

    def passes(budget: float, tag: str) -> list[tuple[Replay, float, int]]:
        """Fresh-table drains until ``budget`` seconds have passed (at least
        one)."""
        nonlocal attempted, first
        out = []
        t_end = time.perf_counter() + budget
        while not out or time.perf_counter() < t_end:
            rp = first if first is not None else Replay(ctx, feed, f"{tag}{len(out)}", BACKLOG_BATCH)
            first = None
            secs, events = rp.drain()
            attempted += len(rp.epochs)
            out.append((rp, secs, events))
        return out

    cpu0 = cpu_jiffies()
    runs = passes(ctx.seconds, "pass")
    cpu1 = cpu_jiffies()
    eps = statistics.median(e / s for _, s, e in runs)
    log(f"measured {len(runs)} passes")
    layers: dict[str, float] = {}
    notes: dict = {"cpu_steal_frac": steal_frac(cpu0, cpu1)}
    window = None
    if tracer is not None:
        tracer.active = True
        t0 = time.time()
        traced = passes(ctx.seconds, "traced")
        t1 = time.time()
        tracer.active = False
    rss = peak_rss_mb()

    if tracer is not None:
        # the traced passes' throughput against the untraced ones of this run
        layers["trace.overhead_frac"] = 1.0 - statistics.median(e / s for _, s, e in traced) / eps
        notes["trace_wrapper_frac"] = tracer.overhead_s / (t1 - t0)
        events = sum(e for _, _, e in traced)
        layers.update(span_metrics(tracer, t0, t1, events))
        window = (t0, t1, "pipeline.batch")
        layers["format.delta_files"] = statistics.fmean(
            e["delta_files"] for rp, _, _ in traced for e in rp.epochs)
        lags = [x for rp, _, _ in traced for x in rp.model_lag_ms()]
        layers["models.lag_ms"] = statistics.median(lags) if lags else 0.0
        from cht_sync_spark.sources.changes import ChangesFeedSource

        src = ChangesFeedSource(ctx.spark, feed, sources=SOURCES)
        # the last batch holds the edits, conflicts and deletes
        cuts = [-(2**62)] + src.plan_batches(BACKLOG_BATCH)
        layers.update(prefix_split(ctx.spark, src.batch(cuts[-2], cuts[-1])))

    # correctness of the last measured pass, outside the timed region
    last = runs[-1][0]
    orc = Oracle(parquet_files(feed), SOURCES)
    keys = orc.keys()
    bad = orc.mismatched_keys(engine_state(ctx, last.pipe.table, "landing", STATE_COLS))
    attempted += keys
    failed += bad
    notes.update(oracle_keys=keys, mismatched_keys=bad)
    groups = orc.groups()
    bad_g = orc.mismatched_groups(
        engine_state(ctx, last.agg.target, "agg", AGG_COLS), ", ".join(AGG_COLS), AGG_SQL
    )
    conv = last.pipe.models[0].table
    bad_c = orc.mismatched_groups(
        engine_state(ctx, conv, "conversations", ["conv_id", "n_turns"]),
        "conv_id, n_turns", "count(*)",
    )
    attempted += 2 * groups
    failed += bad_g + bad_c
    notes.update(oracle_groups=groups, mismatched_agg_groups=bad_g, mismatched_model_groups=bad_c)
    orc.close()
    log("oracle done")

    fresh = [x for rp, _, _ in runs for x in rp.freshness_ms()]
    e2e = {
        "setup_s": setup_s,
        "events_per_s": eps,
        "freshness_ms.p50": pct(fresh, 50),
        "freshness_ms.p95": pct(fresh, 95),
        "write_amp": statistics.median(rp.table_bytes() / feed_bytes for rp, _, _ in runs),
        "peak_rss_mb": rss,
    }
    notes.update(passes=len(runs), events_per_pass=runs[-1][2], batches=len(fresh),
                 feed_bytes=feed_bytes)
    return Outcome(e2e, attempted, failed, layers, notes, window)


# --------------------------------------------------------------------------
# open-loop tail (tail_upsert)
# --------------------------------------------------------------------------


class Tail:
    """A landing table tailed by ``StreamingReplay`` from a feed directory
    that holds the preload and that the generator then keeps writing to."""

    def __init__(self, ctx: Ctx):
        from cht_sync_spark.streaming import StreamingReplay

        root = fresh_dir(ctx, "tail")
        self.feed_dir = f"{root}/feed"
        self.table_path = f"{root}/landing"
        os.makedirs(self.feed_dir)
        self.feed = TailFeed(ctx.seed, TAIL_CONVS, TAIL_TURNS)
        write_rows(f"{self.feed_dir}/preload.parquet", self.feed.preload_rows())
        self.stream = StreamingReplay(
            ctx.spark, self.feed_dir, self.table_path, f"{root}/ckpt",
            max_files_per_trigger=10_000, num_buckets=NUM_BUCKETS, mode="cow", sources=SOURCES,
        )

    def covering(self, ticks) -> list[tuple[int, float] | None]:
        """Per tick, (version, ``committed_at``) of the first landing snapshot
        whose per-source checkpoints cover every event of the tick."""
        cps = []
        for snap in sorted(self.stream.table.history(), key=lambda s: s.version):
            ck = {src: json.loads(snap.properties[f"checkpoint.{src}"])["seq"]
                  for src in SOURCES if f"checkpoint.{src}" in snap.properties}
            cps.append((snap.version, snap.committed_at, ck))
        out: list[tuple[int, float] | None] = []
        for t in ticks:
            out.append(next(((v, at) for v, at, ck in cps
                             if all(ck.get(src, -1) >= seq for src, seq in t.max_seq.items())), None))
        return out

    def bytes_added(self, versions: set[int]) -> int:
        """Data-file bytes the given landing commits wrote."""
        t = self.stream.table
        total = 0
        for v in versions:
            old = {f["path"] for f in t.snapshot(v - 1).files}
            total += sum(os.path.getsize(os.path.join(self.table_path, f["path"]))
                         for f in t.snapshot(v).files if f["path"] not in old)
        return total


def stream_batches(q) -> list[tuple[float, float]]:
    """(start, wall ms) of each streaming batch that read input, from the
    query's progress reports."""
    out = []
    for p in q.recentProgress:
        if p.numInputRows:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            out.append((start, float(p.durationMs["triggerExecution"])))
    return out


def tail_upsert(ctx: Ctx, tracer) -> Outcome:
    from tracing import prefix_split, span_metrics

    t_setup = time.perf_counter()
    tail = Tail(ctx)
    tail.stream.run_available_now(timeout_sec=170)  # the preload: the warm-up pass
    setup_s = time.perf_counter() - t_setup
    phases = 2 if tracer is not None else 1
    gen = TailGenerator(tail.feed, tail.feed_dir, TAIL_TICKS_PER_S, TAIL_EVENTS_PER_TICK)
    lk = LookupClient(ctx.spark, tail.table_path, list(tail.feed.convs), ctx.seed, tracer)
    q = tail.stream.run_tailing(processing_time=f"{TAIL_POLL_S} seconds")
    attempted = failed = 0
    # the measured windows follow one poll of open-loop warm-up; a window
    # spans whole polls, so its spread of poll waits does not depend on where
    # the polls fall in it
    total = TAIL_WARMUP_S + ctx.seconds * phases
    try:
        # the generator starts once the query has made its first (empty)
        # trigger, so every commit after the warm-up covers one whole poll
        deadline = time.time() + 60
        while q.lastProgress is None and q.exception() is None and time.time() < deadline:
            time.sleep(0.1)
        cpu0 = cpu_jiffies()
        gen.start(total)
        w0 = gen.t0 + TAIL_WARMUP_S
        lk.start()
        if tracer is not None:
            time.sleep(max(0.0, w0 + ctx.seconds - time.time()))
            tracer.active = True
        gen.join(total + 60)
        cpu1 = cpu_jiffies()
        lk.stop()
        rss = peak_rss_mb()
        if tracer is not None:
            tracer.active = False
        # let the stream cover every tick, then stop it
        deadline = time.time() + 60
        while time.time() < deadline and tail.covering(gen.ticks[-1:])[0] is None:
            if q.exception() is not None:
                break
            time.sleep(0.2)
        batches = stream_batches(q)
    finally:
        lk.stop()
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")

    cover = tail.covering(gen.ticks)
    lost = sum(1 for c in cover if c is None)
    attempted += len(gen.ticks) + len(lk.samples) + lk.failed
    failed += lost + lk.failed

    def phase(k: int):
        lo = w0 + k * ctx.seconds
        hi = lo + ctx.seconds
        due = [(t, c) for t, c in zip(gen.ticks, cover) if lo <= t.due < hi and c is not None]
        fresh = [(at - t.due) * 1000.0 for t, (_, at) in due]
        look = [ms for s, ms, _ in lk.samples if lo <= s < hi]
        files = [f for s, _, f in lk.samples if lo <= s < hi]
        walls = [ms for s, ms in batches if lo <= s < hi]
        return due, fresh, look, files, walls

    due, fresh, look, _, walls = phase(0)
    # the commits that made the window's ticks visible, and every tick they
    # covered (write amplification is per commit, so whole commits count),
    # less the run's last commit: the generator stopped within its poll, so
    # it rewrote the table for only part of a poll's ticks
    versions = {v for _, (v, _) in due} - {cover[-1][0]} or {v for _, (v, _) in due}
    covered = [t for t, c in zip(gen.ticks, cover) if c is not None and c[0] in versions]
    e2e = {
        "setup_s": setup_s,
        # events made visible within two polls of being due, per second: the
        # offered rate while the tail keeps up, less once it falls behind
        "events_per_s": sum(t.events for (t, _), f in zip(due, fresh)
                            if f <= 2000.0 * TAIL_POLL_S) / ctx.seconds,
        "freshness_ms.p50": pct(fresh, 50),
        "freshness_ms.p95": pct(fresh, 95),
        "write_amp": tail.bytes_added(versions) / sum(t.nbytes for t in covered),
        "peak_rss_mb": rss,
    }
    lateness = [(t.written - t.due) * 1000.0 for t in gen.ticks]
    notes = {
        "ticks": len(gen.ticks), "lost_ticks": lost,
        "offered_events_per_s": TAIL_TICKS_PER_S * TAIL_EVENTS_PER_TICK,
        "generator_late_ms.p50": pct(lateness, 50), "generator_late_ms.max": max(lateness),
        "freshness_samples": len(fresh), "batch_ms": walls, "cpu_steal_frac": steal_frac(cpu0, cpu1),
        "lookups": len(look), "lookup_ms.p50": pct(look, 50), "lookup_ms.p75": pct(look, 75),
    }
    layers: dict[str, float] = {}
    window = None
    if tracer is not None:
        due1, _, look1, files1, walls1 = phase(1)
        t0 = w0 + ctx.seconds
        t1 = t0 + ctx.seconds
        events = sum(t.events for t, _ in due1)
        # traced batches' wall time against the untraced window's batches
        layers["trace.overhead_frac"] = statistics.fmean(walls1) / statistics.fmean(walls) - 1.0
        notes.update(trace_wrapper_frac=tracer.overhead_s / (t1 - t0), traced_batch_ms=walls1)
        layers.update(span_metrics(tracer, t0, t1, events))
        window = (t0, t1, "stream.batch")
        layers["format.read_current_ms"] = pct(look1, 50)
        layers["format.files_per_lookup"] = statistics.fmean(files1) if files1 else 0.0
        layers["format.delta_files"] = 0.0
        layers["models.lag_ms"] = 0.0
        from cht_sync_spark.schemas import CHANGE_EVENT

        sample = [f"{tail.feed_dir}/tick-{t.index:06d}.parquet" for t, _ in due1[:20]]
        layers.update(prefix_split(ctx.spark, ctx.spark.read.schema(CHANGE_EVENT).parquet(*sample)))

    # correctness: landing state vs the oracle over every feed file
    orc = Oracle(parquet_files(tail.feed_dir), SOURCES)
    keys = orc.keys()
    bad = orc.mismatched_keys(engine_state(ctx, tail.stream.table, "landing", STATE_COLS))
    orc.close()
    attempted += keys
    failed += bad
    notes.update(oracle_keys=keys, mismatched_keys=bad)
    return Outcome(e2e, attempted, failed, layers, notes, window)


WORKLOADS = {"backfill_models": backfill_models, "tail_upsert": tail_upsert}
