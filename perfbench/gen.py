"""Seeded HRI traffic: records, control notifications and closed-form
expectations, built with numpy and pyarrow only (no Spark).

One generator serves both replay and streaming. A *batch plan* is a list of
batches, each with a lifecycle kind; :func:`batch_tables` lays a plan out on
a logical millisecond clock for replay, and :func:`stream_ticks` lays one
out on a 250 ms tick schedule for the open-loop file writer.

Lifecycle kinds and what the reference semantics make of them:

``happy``      started, n records, sendCompleted(expected=n) -> completed
``late``       happy plus stragglers due after the completion deadline ->
               completed, stragglers to .invalid ("already completed")
``over``       sendCompleted(expected=n-d) after n records -> failed, all out
``short``      sendCompleted(expected=n+d) -> no terminal notification
``term``       terminated after record k -> records 0..k out, rest dropped
``unknown``    no controls at all -> every record to .invalid
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

BATCH_ID_HEADER = "batchId"
DUE_HEADER = "dueMs"
TOPIC = "ingest.bench.hri.in"
DATA_TYPE = "hri-bench"
TICK_MS = 250

HEADER_TYPE = pa.list_(
    pa.struct([pa.field("key", pa.string()), pa.field("value", pa.binary())])
)
RECORD_SCHEMA = pa.schema(
    [
        ("batch_id", pa.string()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("headers", HEADER_TYPE),
        ("time_ms", pa.int64()),
        ("seq", pa.int64()),
    ]
)
CONTROL_SCHEMA = pa.schema(
    [
        ("id", pa.string()),
        ("name", pa.string()),
        ("topic", pa.string()),
        ("dataType", pa.string()),
        ("invalidThreshold", pa.int32()),
        ("status", pa.string()),
        ("expectedRecordCount", pa.int32()),
        ("time_ms", pa.int64()),
        ("seq", pa.int64()),
    ]
)

# Printable alphabet for payload bytes: real HRI bodies are JSON/FHIR text.
_ALPHABET = np.frombuffer(
    b"ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789{}:,", np.uint8
)

_BYTE_MAP = _ALPHABET[np.arange(256) % len(_ALPHABET)]


@dataclass(frozen=True)
class Shape:
    """Sizes of one traffic shape."""

    n_batches: int
    rec_min: int
    rec_max: int
    payload: int
    mix: tuple  # ((kind, share), ...); shares sum to 1


@dataclass(frozen=True)
class Batch:
    batch_id: str
    kind: str
    n: int  # records sent before any stragglers
    extra: int  # stragglers (late), count delta (over/short), cut index (term)


@dataclass(frozen=True)
class Expect:
    """Closed-form outcome of one batch."""

    n_out: int
    n_invalid: int
    status: str | None  # terminal notification emitted by the engine


def _kinds(mix: tuple, n: int, rng: np.random.Generator) -> list[str]:
    """Exactly-apportioned kinds (largest remainder), shuffled by the seed."""
    raw = [(k, s * n) for k, s in mix]
    counts = {k: int(v) for k, v in raw}
    rest = n - sum(counts.values())
    for k, v in sorted(raw, key=lambda kv: int(kv[1]) - kv[1])[:rest]:
        counts[k] += 1
    kinds = [k for k, _ in mix for _ in range(counts[k])]
    return [kinds[i] for i in rng.permutation(n)]


def plan(shape: Shape, seed: int, prefix: str) -> list[Batch]:
    rng = np.random.default_rng(seed)
    kinds = _kinds(shape.mix, shape.n_batches, rng)
    ns = rng.integers(shape.rec_min, shape.rec_max + 1, shape.n_batches)
    out = []
    for b, (kind, n) in enumerate(zip(kinds, ns.tolist())):
        if kind == "late":
            extra = int(rng.integers(1, 4))
        elif kind in ("over", "short"):
            extra = int(rng.integers(1, 6))
        elif kind == "term":
            extra = n // 2
        else:
            extra = 0
        bid = f"{prefix}{'-unk' if kind == 'unknown' else ''}-{b:05d}"
        out.append(Batch(bid, kind, n, extra))
    return out


def expect(b: Batch) -> Expect:
    if b.kind == "happy":
        return Expect(b.n, 0, "completed")
    if b.kind == "late":
        return Expect(b.n, b.extra, "completed")
    if b.kind == "over":
        return Expect(b.n, 0, "failed")
    if b.kind == "short":
        return Expect(b.n, 0, None)
    if b.kind == "term":
        return Expect(b.extra + 1, 0, None)
    return Expect(0, b.n, None)  # unknown


def expected_count(b: Batch) -> int | None:
    """expectedRecordCount carried by the batch's sendCompleted, if any."""
    if b.kind in ("happy", "late"):
        return b.n
    if b.kind == "over":
        return b.n - b.extra
    if b.kind == "short":
        return b.n + b.extra
    return None


def payloads(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    """n payloads of ``width`` printable bytes ('0'..'o'; real HRI bodies are
    JSON/FHIR text) as one BinaryArray over a single buffer."""
    data = np.frombuffer(rng.bytes(n * width), np.uint8) & 63
    data += 48
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def _headers(batch_ids: list[str], dues: list[int] | None) -> pa.Array:
    """[batchId] or [batchId, dueMs] headers per record."""
    keys, vals = [], []
    per = 1 if dues is None else 2
    for i, bid in enumerate(batch_ids):
        keys.append(BATCH_ID_HEADER)
        vals.append(bid.encode())
        if dues is not None:
            keys.append(DUE_HEADER)
            vals.append(str(dues[i]).encode())
    structs = pa.StructArray.from_arrays(
        [pa.array(keys, pa.string()), pa.array(vals, pa.binary())], ["key", "value"]
    )
    offsets = pa.array(np.arange(0, per * len(batch_ids) + 1, per, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, structs).cast(HEADER_TYPE)


def records_table(rows: list[tuple[str, int, int]], rng, width: int,
                  with_due: bool) -> pa.Table:
    """rows: (batch_id, record index, time_ms), already in send order."""
    bids = [r[0] for r in rows]
    times = [r[2] for r in rows]
    keys = pa.array([f"{b}:{j}".encode() for b, j, _ in rows], pa.binary())
    return pa.table(
        [
            pa.array(bids, pa.string()),
            keys,
            payloads(rng, len(rows), width),
            _headers(bids, times if with_due else None),
            pa.array(times, pa.int64()),
            pa.array(np.arange(len(rows), dtype=np.int64)),
        ],
        schema=RECORD_SCHEMA,
    )


def controls_table(rows: list[tuple[str, str, int | None, int]]) -> pa.Table:
    """rows: (batch_id, status, expectedRecordCount, time_ms)."""
    n = len(rows)
    return pa.table(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([TOPIC] * n, pa.string()),
            pa.array([DATA_TYPE] * n, pa.string()),
            pa.array([-1] * n, pa.int32()),
            pa.array([r[1] for r in rows], pa.string()),
            pa.array([r[2] for r in rows], pa.int32()),
            pa.array([r[3] for r in rows], pa.int64()),
            pa.array(np.arange(n, dtype=np.int64)),
        ],
        schema=CONTROL_SCHEMA,
    )


# ---------------------------------------------------------------------------
# replay layout: a logical millisecond clock, batches overlapping in time
# ---------------------------------------------------------------------------
REC_STEP_MS = 2
BATCH_GAP_MS = 40


def batch_tables(batches: list[Batch], seed: int, width: int, delay_ms: int
                 ) -> tuple[pa.Table, pa.Table]:
    """Records and controls of a replay. Distinct times inside every batch,
    so the replay order never depends on a tie-break."""
    rng = np.random.default_rng([seed, 1])
    recs: list[tuple[str, int, int]] = []
    ctrls: list[tuple[str, str, int | None, int]] = []
    for b_i, b in enumerate(batches):
        start = b_i * BATCH_GAP_MS
        times = [start + 20 + REC_STEP_MS * j for j in range(b.n)]
        last = times[-1]
        if b.kind != "unknown":
            ctrls.append((b.batch_id, "started", None, start))
        if b.kind == "term":
            ctrls.append((b.batch_id, "terminated", None, times[b.extra] + 1))
        elif b.kind != "unknown":
            ctrls.append((b.batch_id, "sendCompleted", expected_count(b), last + 5))
        if b.kind == "late":
            deadline = last + 5 + delay_ms
            times += [deadline + 50 * (s + 1) for s in range(b.extra)]
        recs += [(b.batch_id, j, t) for j, t in enumerate(times)]
    recs.sort(key=lambda r: r[2])
    ctrls.sort(key=lambda r: r[3])
    return records_table(recs, rng, width, False), controls_table(ctrls)


# ---------------------------------------------------------------------------
# streaming layout: a 250 ms tick schedule for the open-loop file writer
# ---------------------------------------------------------------------------
@dataclass
class Tick:
    """What the writer publishes at ``TICK_MS * index`` after the start."""

    index: int
    records: pa.Table | None
    controls: pa.Table | None


@dataclass
class StreamPlan:
    ticks: list[Tick]
    batches: list[Batch]
    due: dict  # batch_id -> (sendCompleted due ms, last record due ms)
    n_records: int


# A control lands this many ticks away from the batch's nearest record file,
# so a trigger never sees a record before its batch's started control or a
# post-terminate record before the terminate (the two sources list apart).
CONTROL_GAP_TICKS = 2


def _interleave(batches: list[Batch], concurrency: int) -> list[tuple[Batch, int]]:
    """(batch, record index) in send order, ``concurrency`` batches in flight."""
    queues = [[(b, j) for b in batches[s::concurrency] for j in range(b.n)]
              for s in range(concurrency)]
    order = []
    for i in range(max(map(len, queues), default=0)):
        order += [q[i] for q in queues if i < len(q)]
    return order


def stream_ticks(batches: list[Batch], seed: int, width: int, rate: int,
                 concurrency: int) -> StreamPlan:
    """``concurrency`` batches in flight, ``rate`` records/s published once
    per tick; a record is due when its tick is."""
    rng = np.random.default_rng([seed, 2])
    per_tick = max(1, round(rate * TICK_MS / 1000))
    recs: dict[int, list] = {}
    ctrls: dict[int, list] = {}

    def control(tick, bid, status, expected=None, offset=0):
        ctrls.setdefault(tick, []).append((bid, status, expected, tick * TICK_MS + offset))

    first: dict[str, int] = {}
    last: dict[str, int] = {}
    hold: dict[str, int] = {}  # term batch -> first tick after its terminate
    tick, used = CONTROL_GAP_TICKS + 1, 0
    for b, j in _interleave(batches, concurrency):
        if used == per_tick:
            tick, used = tick + 1, 0
        used += 1
        t = max(tick, hold.get(b.batch_id, 0))
        recs.setdefault(t, []).append((b.batch_id, j, t * TICK_MS))
        first.setdefault(b.batch_id, t)
        last[b.batch_id] = t
        if b.kind == "term" and j == b.extra:
            control(t + CONTROL_GAP_TICKS, b.batch_id, "terminated")
            hold[b.batch_id] = t + 2 * CONTROL_GAP_TICKS
    due: dict[str, tuple[int, int]] = {}
    for b in batches:
        if b.kind == "unknown":
            continue
        control(first[b.batch_id] - CONTROL_GAP_TICKS, b.batch_id, "started")
        if b.kind != "term":
            control(last[b.batch_id], b.batch_id, "sendCompleted", expected_count(b), 1)
            due[b.batch_id] = (last[b.batch_id] * TICK_MS + 1, last[b.batch_id] * TICK_MS)
    ticks, seq = [], 0
    for idx in sorted(set(recs) | set(ctrls)):
        r = None
        if idx in recs:
            r = records_table(recs[idx], rng, width, True)
            r = r.set_column(5, "seq", pa.array(np.arange(seq, seq + r.num_rows)))
            seq += r.num_rows
        c = controls_table(sorted(ctrls[idx], key=lambda x: x[3])) if idx in ctrls else None
        ticks.append(Tick(idx, r, c))
    return StreamPlan(ticks, batches, due, seq)


def table_digest(*tables: pa.Table) -> str:
    """Digest of the Arrow IPC bytes of ``tables`` (input identity check)."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
