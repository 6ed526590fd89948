"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded in memory around calls into the engine's layer entry
points, by patching those entry points from outside for the traced phase
only. Each span also tags the Spark jobs it submits with its name as the
job group, so the Spark event log attributes executor time to layers.
Nothing here runs in an untraced run.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PREFIX_REPEATS = 3  # noop forcings per prefix in the split; the median is kept

HIDDEN = "events_per_s, within its bound: under a tenth of a batch, behind the fixed model/IVM cost"

# (name, unit, better, end-to-end metric it should move, workloads)
LAYER_METRICS = [
    ("sources.plan_ms", "ms", "lower", "setup_s", "backfill_models"),
    # per-row layers: each is a few percent of a backfill batch
    ("sources.scan_ms", "ms", "lower", HIDDEN, "backfill_models"),
    ("json_doc.transform_ms", "ms", "lower", HIDDEN, "backfill_models"),
    ("lww.dedup_ms", "ms", "lower", HIDDEN, "backfill_models"),
    ("lww.rows_out_per_in", "ratio", "lower", HIDDEN, "backfill_models"),
    ("format.append_ms", "ms", "lower", "events_per_s", "backfill_models"),
    ("format.compact_ms", "ms", "lower", "events_per_s", "backfill_models"),
    ("format.bytes_rewritten", "B", "lower", "events_per_s write_amp", "backfill_models"),
    ("format.commit_ms", "ms", "lower", "freshness_ms.*", "tail_upsert"),
    ("format.read_current_ms", "ms", "lower", "lookup latency in the notes line", "tail_upsert"),
    ("format.files_per_lookup", "count", "lower", "lookup latency in the notes line", "tail_upsert"),
    ("format.delta_files", "count", "lower", "events_per_s freshness_ms.*", "backfill_models"),
    ("merge.merge_ms", "ms", "lower", "freshness_ms.*", "tail_upsert"),
    ("merge.bucket_frac", "ratio", "lower", "freshness_ms.* write_amp", "tail_upsert"),
    ("merge.rows_rewritten_per_event", "ratio", "lower", "freshness_ms.* write_amp", "tail_upsert"),
    ("merge.skew_max_ratio", "ratio", "lower", "freshness_ms.p95", "tail_upsert"),
    ("merge.retries", "count", "lower", "freshness_ms.*", "tail_upsert"),
    ("stream.batch_ms", "ms", "lower", "freshness_ms.*", "tail_upsert"),
    ("stream.driver_ms", "ms", "lower", "freshness_ms.*", "tail_upsert"),
    ("pipeline.batch_ms", "ms", "lower", "events_per_s", "backfill_models"),
    ("models.epoch_ms", "ms", "lower", "events_per_s freshness_ms.*", "backfill_models"),
    ("models.rows_per_event", "ratio", "lower", "events_per_s", "backfill_models"),
    ("models.lag_ms", "ms", "lower", "freshness_ms.*", "backfill_models"),
    ("ivm.run_ms", "ms", "lower", "events_per_s freshness_ms.*", "backfill_models"),
    ("ivm.groups_recomputed", "count", "lower", "events_per_s", "backfill_models"),
    ("spark.jobs_per_batch", "count", "lower", "events_per_s freshness_ms.*", "all"),
    ("spark.executor_busy_frac", "ratio", "higher", "events_per_s", "all"),
    ("spark.shuffle_bytes", "B/batch", "lower", "events_per_s", "all"),
    ("spark.spill_bytes", "B/batch", "lower", "events_per_s", "all"),
    ("spark.gc_ms", "ms/batch", "lower", "events_per_s peak_rss_mb", "all"),
    # traced against untraced work of the same run: backfill_models
    # 1 - traced/untraced passes' events_per_s (the traced pass runs later,
    # on a warmer JVM); tail_upsert traced/untraced batch wall time - 1
    ("trace.overhead_frac", "ratio", "lower", "(the tracer's cost, not a prediction)", "all"),
]


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None  # index of the enclosing span in the same thread
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Tracer:
    """Span recorder. Patches are installed once, before the workload starts
    (a running stream holds the bound batch method it was started with), and
    record only while ``active`` is set: the traced phase."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time the patched wrappers spend outside the engine
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield Span(name, 0.0)
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = Span(name, time.time(), parent=stack[-1] if stack else None)
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            rec.t1 = time.time()

    def patch(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a ``name`` span;
        ``after(span, result, args, kwargs)`` may add attributes."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            t0 = time.perf_counter()
            with tracer.span(name) as rec:
                t1 = time.perf_counter()
                out = orig(*args, **kwargs)
                t2 = time.perf_counter()
                if after is not None:
                    after(rec, out, args, kwargs)
            spent = (t1 - t0) + (time.perf_counter() - t2)
            with tracer._lock:
                tracer.overhead_s += spent
            return out

        setattr(owner, attr, wrapper)

    def named(self, name: str, t0: float = 0.0, t1: float = float("inf")) -> list[Span]:
        return [s for s in self.spans if s.name == name and t0 <= s.t0 < t1 and s.t1]


def install(tracer: Tracer) -> None:
    """Patch the engine's layer entry points. Eager calls only: the lazy plan
    builders (``doc_to_row``, ``lww_dedup``) return before any work runs, so
    their cost is measured by the prefix split instead."""
    import cht_sync_spark.operators.models as models_mod
    import cht_sync_spark.streaming.pipeline as pipeline_mod
    import cht_sync_spark.streaming.stream as stream_mod
    from cht_sync_spark.sources.changes import ChangesFeedSource
    from cht_sync_spark.streaming.ivm import AggregateConsumer
    from cht_sync_spark.tables.format import SnapshotTable

    def merge_after(rec, stats, args, kwargs):
        table = args[0]
        snap = table.snapshot(stats.version)
        parent = table.snapshot(snap.parent) if snap.parent else None
        old = {f["path"] for f in parent.files} if parent else set()
        rec.attrs.update(
            bucket_frac=stats.affected_buckets / max(1, stats.num_buckets),
            skew=stats.skew_max_ratio,
            retries=stats.retries,
            rows_rewritten=sum(f.get("rows", 0) for f in snap.files
                               if f["path"] not in old and f["level"] == "base"),
        )

    def compact_after(rec, snap, args, kwargs):
        table = args[0]
        if snap.parent is None:
            return
        old = {f["path"] for f in table.snapshot(snap.parent).files}
        rec.attrs["bytes"] = sum(
            os.path.getsize(os.path.join(table.path, f["path"]))
            for f in snap.files if f["path"] not in old
        )

    def models_after(rec, stats, args, kwargs):
        rec.attrs["rows"] = sum(s.rows for s in stats)

    def ivm_after(rec, res, args, kwargs):
        if res is not None:
            rec.attrs.update(groups_recomputed=res.groups_recomputed, applied=True)

    for mod in (pipeline_mod, stream_mod):
        tracer.patch(mod, "merge_upsert", "merge.merge", merge_after)
    tracer.patch(SnapshotTable, "append_delta", "format.append")
    tracer.patch(SnapshotTable, "compact", "format.compact", compact_after)
    tracer.patch(SnapshotTable, "commit", "format.commit")
    tracer.patch(ChangesFeedSource, "plan_batches", "sources.plan")
    tracer.patch(models_mod, "run_model_levels", "models.epoch", models_after)
    tracer.patch(AggregateConsumer, "run_once", "ivm.run", ivm_after)
    tracer.patch(pipeline_mod.ReplayPipeline, "run_batch", "pipeline.batch")
    tracer.patch(stream_mod.StreamingReplay, "_apply_batch", "stream.batch")


def prefix_split(spark, events) -> dict[str, float]:
    """Split the fused scan -> transform -> dedup chain of one batch: force
    each prefix with the noop sink and take the increments of the medians."""
    from pyspark.sql import functions as F

    from cht_sync_spark.functions.json_doc import doc_to_row
    from cht_sync_spark.operators.lww import lww_dedup

    rows = doc_to_row(events).withColumn(
        "saved_timestamp", F.coalesce(F.col("ts"), F.timestamp_millis(F.col("seq") % 10**12))
    )
    deduped = lww_dedup(rows)

    def timed(df) -> float:
        ts = []
        for _ in range(PREFIX_REPEATS):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append((time.perf_counter() - t0) * 1000.0)
        return statistics.median(ts)

    scan, transform, dedup = timed(events), timed(rows), timed(deduped)
    n_in, n_out = events.count(), deduped.count()
    return {
        "sources.scan_ms": scan,
        "json_doc.transform_ms": max(0.0, transform - scan),
        "lww.dedup_ms": max(0.0, dedup - transform),
        "lww.rows_out_per_in": n_out / max(1, n_in),
    }


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _covered_ms(span: Span, jobs: list[dict]) -> float:
    """Milliseconds of ``span`` covered by the union of the jobs' lifetimes."""
    iv = sorted((max(span.t0, j["submit"]), min(span.t1, j["end"])) for j in jobs
                if j["end"] > span.t0 and j["submit"] < span.t1)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered * 1000.0


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the Spark event log; times in epoch seconds."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    # Spark may roll the log into a directory of ``events_*`` files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    for path in paths:
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": float("inf"),
                        "group": props.get("spark.jobGroup.id"),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "finish": ev["Task Info"]["Finish Time"] / 1000.0,
                        "run_ms": tm.get("Executor Run Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle": sw.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    })
    return list(jobs.values()), tasks


def span_metrics(tracer: Tracer, t0: float, t1: float, events: int) -> dict[str, float]:
    """Per-layer numbers from the spans of the traced window [t0, t1)."""
    sp = lambda name: tracer.named(name, t0, t1)  # noqa: E731
    out: dict[str, float] = {}
    out["sources.plan_ms"] = _mean(s.ms for s in sp("sources.plan"))
    out["format.append_ms"] = _mean(s.ms for s in sp("format.append"))
    compacts = sp("format.compact")
    out["format.compact_ms"] = _mean(s.ms for s in compacts)
    out["format.bytes_rewritten"] = _mean(s.attrs.get("bytes", 0) for s in compacts)
    out["format.commit_ms"] = _mean(s.ms for s in sp("format.commit"))
    merges = sp("merge.merge")
    out["merge.merge_ms"] = _mean(s.ms for s in merges)
    out["merge.bucket_frac"] = _mean(s.attrs.get("bucket_frac", 0) for s in merges)
    out["merge.skew_max_ratio"] = _mean(s.attrs.get("skew", 0) for s in merges)
    out["merge.retries"] = float(sum(s.attrs.get("retries", 0) for s in merges))
    out["merge.rows_rewritten_per_event"] = (
        sum(s.attrs.get("rows_rewritten", 0) for s in merges) / events if merges and events else 0.0
    )
    model_spans = sp("models.epoch")
    out["models.epoch_ms"] = _mean(s.ms for s in model_spans)
    out["models.rows_per_event"] = (
        sum(s.attrs.get("rows", 0) for s in model_spans) / events if model_spans and events else 0.0
    )
    ivm = [s for s in sp("ivm.run") if s.attrs.get("applied")]
    out["ivm.run_ms"] = _mean(s.ms for s in ivm)
    out["ivm.groups_recomputed"] = _mean(s.attrs.get("groups_recomputed", 0) for s in ivm)
    out["pipeline.batch_ms"] = _mean(s.ms for s in sp("pipeline.batch"))
    out["stream.batch_ms"] = _mean(s.ms for s in sp("stream.batch"))
    return out


def spark_metrics(tracer: Tracer, t0: float, t1: float, batch_span: str, log_dir: str,
                  cores: int) -> dict[str, float]:
    """Spark runtime numbers for the traced window, from the event log (read
    after the session stopped, so it is complete). Jobs of the lookup client
    are excluded from the ingest batches' job counts and coverage."""
    out: dict[str, float] = {}
    jobs, tasks = read_event_log(log_dir)
    batches = tracer.named(batch_span, t0, t1)
    ingest_jobs = [j for j in jobs if j["group"] != "format.read_current"]
    out["stream.driver_ms"] = (
        _mean(s.ms - _covered_ms(s, ingest_jobs) for s in batches) if batch_span == "stream.batch" else 0.0
    )
    win_jobs = [j for j in ingest_jobs if t0 <= j["submit"] < t1]
    win_tasks = [t for t in tasks if t0 <= t["finish"] < t1]
    nb = max(1, len(batches))
    out["spark.jobs_per_batch"] = len(win_jobs) / nb
    out["spark.executor_busy_frac"] = sum(t["run_ms"] for t in win_tasks) / 1000.0 / ((t1 - t0) * cores)
    out["spark.shuffle_bytes"] = sum(t["shuffle"] for t in win_tasks) / nb
    out["spark.spill_bytes"] = sum(t["spill"] for t in win_tasks) / nb
    out["spark.gc_ms"] = sum(t["gc_ms"] for t in win_tasks) / nb
    return out
