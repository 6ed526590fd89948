"""Seeded benchmark inputs: cached static backlog feeds and the open-loop
tail generator. Both emit CHANGE_EVENT rows whose documents follow
FIXTURES.md §2 (``conv:turn`` ids, ``N-hash`` revisions, no document for
deletes), so the engine's ``doc_to_row`` parses them unchanged.

The engine only ever sees the parquet files written here. Everything is a
pure function of (generator parameters, seed): the same seed yields the same
files, and a feed already built for the same parameters and seed is reused
from the cache directory.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# CHANGE_EVENT (cht_sync_spark.schemas) as an arrow schema, spelled out so the
# generator does not depend on the engine's schema module.
EVENT_SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("source", pa.string(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("id", pa.string(), nullable=False),
        pa.field("rev", pa.string()),
        pa.field("doc", pa.string()),
    ]
)

SOURCES = ["synthhost/db0", "synthhost/db1"]
BACKLOG_FILES = 8  # parquet files a backlog feed is split into
ZIPF_S = 1.1  # skew of the tail's writes and lookups over conversations
_WORDS = "data spark merge stream turn tool agent reply query plan batch state".split()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def backlog_feed(cache_dir: str, seed: int, n_convs: int, hot_turns: int) -> str:
    """A static backlog feed with the FIXTURES.md §2 scenario mix, written
    seq-sorted into BACKLOG_FILES parquet files and cached by parameters + seed.

    Per turn: an insert at height 1; then by a seeded scenario draw an edit
    at height 2 (20%), two divergent height-2 branches (5%), a height-2
    delete (5%), a delete-vs-edit tie at height 2 that the live edit must win
    (3%), or an edit then a height-3 delete (2%). About 1% of documents carry
    raw and escaped NULs, 0.5% are user documents with security fields, the
    ``tool`` field appears only in the later half of the feed, and two hot
    conversations carry ``hot_turns`` turns each."""
    path = os.path.join(cache_dir, f"backlog_v1_c{n_convs}_h{hot_turns}_s{seed}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    rng = np.random.default_rng(seed)
    turns = np.where(np.arange(n_convs) < 2, hot_turns, 6 + rng.integers(0, 8, n_convs))
    band = 10**12
    phases: list[list[tuple]] = [[], [], []]

    def emit(phase: int, conv: str, src: str, turn: int, op: str, rev: str, text: str | None,
             flags: int) -> None:
        seq = phase * band + len(phases[phase])
        doc = None
        if op != "delete":
            d = _doc_fields(conv, turn, rev, seq, text)
            if flags & 1 and (phase > 0 or seq * 2 >= n_events):
                d["tool"] = _WORDS[turn % len(_WORDS)]
            if flags & 2:
                d.update(type="user", password_scheme="pbkdf2", derived_key=f"dk{seq:x}", salt=f"na{seq:x}")
            doc = json.dumps(d, separators=(",", ":"))
        phases[phase].append((seq, src, op, f"{conv}:{turn:06d}", rev, doc))

    n_events = int(turns.sum())
    hashes = iter(rng.integers(0, 2**32, size=2 * n_events).tolist())

    def rev(height: int) -> str:
        return f"{height}-{next(hashes):08x}"

    for c in range(n_convs):
        conv, src = f"c{c:07d}", SOURCES[c % len(SOURCES)]
        scen = rng.integers(0, 100, int(turns[c]))
        rare = rng.random(int(turns[c]))
        for t in range(int(turns[c])):
            text = f"turn {t} of {conv}: {_WORDS[(c + t) % len(_WORDS)]}"
            if rare[t] < 0.01:
                text += " x\x00y\\u0000z\\\\u0000w"
            flags = (1 if t % 7 == 3 else 0) | (2 if 0.01 <= rare[t] < 0.015 else 0)
            emit(0, conv, src, t, "insert", rev(1), text, flags)
            s = scen[t]
            if s < 20:
                emit(1, conv, src, t, "update", rev(2), text + " (edited)", flags)
            elif s < 25:
                emit(1, conv, src, t, "update", rev(2), text + " (branch a)", flags)
                emit(1, conv, src, t, "update", rev(2), text + " (branch b)", flags)
            elif s < 30:
                emit(1, conv, src, t, "delete", rev(2), None, flags)
            elif s < 33:
                emit(1, conv, src, t, "update", rev(2), text + " (live edit)", flags)
                emit(1, conv, src, t, "delete", "2-zzz" + rev(2)[2:7], None, flags)
            elif s < 35:
                emit(1, conv, src, t, "update", rev(2), text + " (edited)", flags)
                emit(2, conv, src, t, "delete", rev(3), None, flags)
    rows = phases[0] + phases[1] + phases[2]
    step = -(-len(rows) // BACKLOG_FILES)
    for i in range(0, len(rows), step):
        write_rows(os.path.join(path, f"part-{i // step:05d}.parquet"), rows[i:i + step])
    with open(os.path.join(path, "_DONE"), "w") as fh:
        fh.write("ok")
    return path


# --------------------------------------------------------------------------
# open-loop tail generator
# --------------------------------------------------------------------------


def _rev(rng: np.random.Generator, height: int) -> str:
    return f"{height}-{int(rng.integers(0, 2**32)):08x}"


def _doc_fields(conv: str, turn: int, rev: str, seq: int, text: str) -> dict:
    return {
        "_id": f"{conv}:{turn:06d}",
        "_rev": rev,
        "conv_id": conv,
        "turn_idx": turn,
        "role": "user" if turn % 2 == 0 else ("tool" if turn % 7 == 3 else "assistant"),
        "text": text,
        "ts": 1704067200000 + seq % 10**9,
    }


def _doc(conv: str, turn: int, rev: str, seq: int) -> str:
    d = _doc_fields(conv, turn, rev, seq, f"turn {turn} of {conv}: {_WORDS[seq % len(_WORDS)]} rev {rev}")
    if d["role"] == "tool":
        d["tool"] = _WORDS[(turn + seq) % len(_WORDS)]
    return json.dumps(d, separators=(",", ":"))


class TailFeed:
    """State of a Zipf-skewed conversation corpus and the change events that
    mutate it: new turns, edits, deletes and same-height conflicts, with a
    few hot conversations carrying most of the traffic. Seqs increase across
    every event the generator emits, so a prefix of the written files is a
    prefix of the seq space."""

    def __init__(self, seed: int, n_convs: int, turns_per_conv: int):
        self.rng = np.random.default_rng(seed)
        self.convs = [f"t{seed % 1000:03d}c{i:06d}" for i in range(n_convs)]
        self.src = [SOURCES[i % len(SOURCES)] for i in range(n_convs)]
        w = 1.0 / np.arange(1, n_convs + 1) ** ZIPF_S
        self.p = w / w.sum()
        self.turns = [turns_per_conv] * n_convs
        self.height: dict[tuple[int, int], int] = {}
        self.seq = 0
        self.turns_per_conv = turns_per_conv

    def _row(self, c: int, turn: int, op: str, rev: str) -> tuple:
        self.seq += 1
        conv = self.convs[c]
        doc = None if op == "delete" else _doc(conv, turn, rev, self.seq)
        return (self.seq, self.src[c], op, f"{conv}:{turn:06d}", rev, doc)

    def preload_rows(self) -> list[tuple]:
        rows = []
        for c in range(len(self.convs)):
            for t in range(self.turns_per_conv):
                self.height[(c, t)] = 1
                rows.append(self._row(c, t, "insert", _rev(self.rng, 1)))
        return rows

    def tick_rows(self, n: int) -> list[tuple]:
        rows: list[tuple] = []
        convs = self.rng.choice(len(self.convs), size=n, p=self.p)
        kinds = self.rng.random(n)
        while len(rows) < n:
            c = int(convs[len(rows)])
            k = kinds[len(rows)]
            if k < 0.30:  # new turn
                t = self.turns[c]
                self.turns[c] += 1
                self.height[(c, t)] = 1
                rows.append(self._row(c, t, "insert", _rev(self.rng, 1)))
                continue
            t = int(self.rng.integers(0, self.turns[c]))
            h = self.height[(c, t)] + 1
            self.height[(c, t)] = h
            if k < 0.75:  # edit
                rows.append(self._row(c, t, "update", _rev(self.rng, h)))
            elif k < 0.85:  # delete (tombstone at the next height)
                rows.append(self._row(c, t, "delete", _rev(self.rng, h)))
            else:  # same-height conflict: two branches, greater hash wins
                rows.append(self._row(c, t, "update", _rev(self.rng, h)))
                rows.append(self._row(c, t, "update", _rev(self.rng, h)))
        return rows


def write_rows(path: str, rows: list[tuple]) -> int:
    """Write one feed file atomically: hidden name, then rename, so a tailing
    file source never lists a partly written file. Returns bytes written."""
    cols = list(zip(*rows))
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, EVENT_SCHEMA)], schema=EVENT_SCHEMA)
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


@dataclass
class Tick:
    index: int
    due: float  # wall clock (time.time()) at which the tick was due
    written: float  # wall clock after the file became visible
    events: int
    max_seq: dict[str, int]  # per source
    nbytes: int


@dataclass
class TailGenerator:
    """One thread writing ``events_per_tick`` events every ``1/ticks_per_s``
    seconds into ``feed_dir``, on a fixed schedule that does not slow when
    the engine slows. Records each tick's due time and when it was written."""

    feed: TailFeed
    feed_dir: str
    ticks_per_s: float
    events_per_tick: int
    ticks: list[Tick] = field(default_factory=list)
    error: BaseException | None = None

    def __post_init__(self):
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._next = 0
        self.t0 = 0.0  # wall clock of the first tick

    def write_tick(self, due: float) -> Tick:
        rows = self.feed.tick_rows(self.events_per_tick)
        maxs: dict[str, int] = {}
        for seq, src, *_ in rows:
            maxs[src] = max(maxs.get(src, 0), seq)
        nbytes = write_rows(os.path.join(self.feed_dir, f"tick-{self._next:06d}.parquet"), rows)
        tick = Tick(self._next, due, time.time(), len(rows), maxs, nbytes)
        self._next += 1
        self.ticks.append(tick)
        return tick

    def _loop(self, start: float, until: float) -> None:
        try:
            i = 0
            while not self._stop.is_set():
                due = start + i / self.ticks_per_s
                if due >= until:
                    return
                delay = due - time.time()
                if delay > 0 and self._stop.wait(delay):
                    return
                self.write_tick(due)
                i += 1
        except Exception as e:  # surfaced by join(); the run then fails
            self.error = e

    def start(self, seconds: float) -> None:
        self.t0 = time.time()
        self._thread = threading.Thread(
            target=self._loop, args=(self.t0, self.t0 + seconds), daemon=True
        )
        self._thread.start()

    def join(self, timeout: float) -> None:
        assert self._thread is not None
        self._thread.join(timeout)
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(10)
        if self.error is not None:
            raise self.error
