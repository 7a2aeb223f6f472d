"""Correctness checks: the row-wise reference replay and a per-batch
comparison of routed output against it and against the generator's
closed-form expectations.

Routed rows are compared through an order-insensitive digest: per batch and
destination, the row count and the sum of a 40-bit prefix of
``md5(dest | hex(key) | md5(value) | to_json(headers))``. Spark computes the
same digest on the engine side, so only one small row per batch and
destination leaves the JVM. Each batch is one checked operation; a mismatch
counts once per batch and path.
"""

from __future__ import annotations

import base64
import hashlib
import json
import time
from collections import defaultdict

import pyarrow as pa
from pyspark.sql import functions as F

from hri_flink_validation_passthrough_spark.model import UNKNOWN_BATCH_FAILURE
from hri_flink_validation_passthrough_spark.operators.batch_state import (
    BatchState,
    BatchStateMachine,
    failure_body,
    notification_json,
)

import gen


def md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


def _headers_json(headers) -> str:
    """Spark's ``to_json`` of a header array: compact, binary as base64,
    null values omitted."""
    return json.dumps(
        [{"key": h["key"]} if h["value"] is None else
         {"key": h["key"], "value": base64.b64encode(h["value"]).decode()}
         for h in headers], separators=(",", ":"))


def row_hash(dest: str, key: bytes, value: bytes, headers) -> int:
    s = "|".join((dest, key.hex().upper(), md5(value), _headers_json(headers)))
    return int(md5(s.encode())[:10], 16)


def row_hash_col():
    """The Spark twin of :func:`row_hash` over a routed frame."""
    s = F.concat_ws("|", "dest", F.hex("key"), F.md5("value"), F.to_json("headers"))
    return F.conv(F.substring(F.md5(s), 1, 10), 16, 10).cast("long")


class Outcome:
    """Per batch: {dest: [rows, hash sum]} and the terminal notifications."""

    def __init__(self):
        self.rows: dict[str, dict] = defaultdict(dict)
        self.notes: dict[str, list[bytes]] = defaultdict(list)

    def add(self, batch_id: str, dest: str, n: int, hash_sum: int) -> None:
        c = self.rows[batch_id].setdefault(dest, [0, 0])
        c[0] += n
        c[1] += hash_sum

    def add_note(self, batch_id: str, value: bytes) -> None:
        self.notes[batch_id].append(value)

    def status(self, batch_id: str) -> list[str]:
        return [json.loads(v)["status"] for v in self.notes.get(batch_id, [])]

    def count(self, batch_id: str, dest: str) -> int:
        return self.rows.get(batch_id, {}).get(dest, [0, 0])[0]


def engine_outcome(df) -> Outcome:
    """Digest an engine's routed frame JVM-side in one job; notifications
    come back whole (one per terminal batch)."""
    is_note = F.col("dest") == "notification"
    rows = df.select(
        "batch_id", "dest", F.when(is_note, F.col("value")).alias("note"),
        F.when(~is_note, row_hash_col()).alias("h"),
    ).groupBy("batch_id", "dest", "note").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
    o = Outcome()
    for r in rows.collect():
        if r["dest"] == "notification":
            for _ in range(r["n"]):
                o.add_note(r["batch_id"], bytes(r["note"]))
        else:
            o.add(r["batch_id"], r["dest"], r["n"], r["h"])
    return o


def _control_dict(c: dict) -> dict:
    """A control row as the notification dict the engines decode."""
    return {k: c[k] for k in ("id", "name", "topic", "dataType", "status",
                              "expectedRecordCount", "invalidThreshold")
            if c[k] is not None}


def reference_replay(records: pa.Table, controls: pa.Table, delay_ms: int
                     ) -> tuple[Outcome, float]:
    """Event-at-a-time replay of every batch through the pure lifecycle core
    on one thread: controls before data at equal time, then ``seq``.
    Returns the outcome and the seconds spent inside the core."""
    events: dict[str, list] = defaultdict(list)
    for c in controls.to_pylist():
        events[c["id"]].append((c["time_ms"], 0, c["seq"], _control_dict(c)))
    r = records.to_pydict()
    for i, bid in enumerate(r["batch_id"]):
        events[bid].append((r["time_ms"][i], 1, r["seq"][i],
                            (r["key"][i], r["value"][i], r["headers"][i])))
    for evs in events.values():
        evs.sort(key=lambda e: e[:3])
    machine = BatchStateMachine(delay_ms)
    results = []
    t0 = time.perf_counter()
    for bid, evs in events.items():
        st = BatchState(batch_id=bid)
        routed, notes = [], []
        for t, rank, _seq, ev in evs:
            if rank == 0:
                out = machine.on_control(st, ev, t)
            else:
                out = machine.on_data(st, ev[0], ev[1], ev[2], t)
            routed += out.routed
            notes += out.notifications
        notes += machine.end_of_input(st).notifications
        results.append((bid, routed, notes))
    core_s = time.perf_counter() - t0
    o = Outcome()
    for bid, routed, notes in results:
        for rr in routed:
            o.add(bid, rr.dest, 1, row_hash(rr.dest, rr.key, rr.value, rr.headers))
        for n in notes:
            o.add_note(bid, notification_json(n))
    return o, core_s


def expected_stream(plan: gen.StreamPlan) -> Outcome:
    """Routed rows the stream must produce, by the closed-form rules: each
    sent record exactly once, post-terminate records dropped."""
    kinds = {b.batch_id: b for b in plan.batches}
    unknown_body = failure_body(UNKNOWN_BATCH_FAILURE)
    o = Outcome()
    for tick in plan.ticks:
        if tick.records is None:
            continue
        c = tick.records.to_pydict()
        for bid, key, value, h in zip(c["batch_id"], c["key"], c["value"], c["headers"]):
            b = kinds[bid]
            if b.kind == "unknown":
                o.add(bid, "invalid", 1, row_hash("invalid", key, unknown_body, h))
            elif b.kind != "term" or int(key.rsplit(b":", 1)[1]) <= b.extra:
                o.add(bid, "out", 1, row_hash("out", key, value, h))
    return o


def compare(batches: list[gen.Batch], got: Outcome, ref: Outcome | None,
            full_notes: bool) -> list[str]:
    """Ids of batches whose routed rows or terminal status differ from the
    closed-form expectation or, when given, the reference. ``full_notes``
    also compares notification bytes with the reference (the state-machine
    engine emits the whole notification, the relational one id and status
    only). Batches the generator never sent count as mismatches too."""
    bad = []
    for b in batches:
        e = gen.expect(b)
        ok = (got.count(b.batch_id, "out") == e.n_out
              and got.count(b.batch_id, "invalid") == e.n_invalid
              and set(got.rows.get(b.batch_id, {})) <= {"out", "invalid"}
              and got.status(b.batch_id) == ([e.status] if e.status else []))
        if ref is not None:
            ok = ok and got.rows.get(b.batch_id) == ref.rows.get(b.batch_id)
            if full_notes:
                ok = ok and got.notes.get(b.batch_id) == ref.notes.get(b.batch_id)
        if not ok:
            bad.append(b.batch_id)
    sent = {b.batch_id for b in batches}
    return bad + sorted((set(got.rows) | set(got.notes)) - sent)
