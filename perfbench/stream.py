"""Open-loop streaming through ``build_routed_stream`` over file sources.

A single writer thread publishes each tick's parquet files on schedule
(pyarrow only, atomic rename), whatever the query is doing. The sink is a
``foreachBatch`` that collects the routed rows with the time they arrived,
so a record's latency is its arrival minus its due time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hri_flink_validation_passthrough_spark.streaming.topology import build_routed_stream

import check
import gen

RECORD_DDL = ("batch_id STRING, key BINARY, value BINARY, "
              "headers ARRAY<STRUCT<key: STRING, value: BINARY>>, "
              "time_ms BIGINT, seq BIGINT")
CONTROL_DDL = ("id STRING, name STRING, topic STRING, dataType STRING, "
               "invalidThreshold INT, status STRING, expectedRecordCount INT, "
               "time_ms BIGINT, seq BIGINT")
# Far above the files a steady-phase trigger sees (four ticks a second): a
# capped source lags the other one, and then a record can overtake its
# batch's started control, which routes it to .invalid as an unknown batch.
MAX_FILES_PER_TRIGGER = 64


class Writer(threading.Thread):
    """Publishes ``plan.ticks`` at ``t0 + index * TICK_MS``."""

    def __init__(self, plan: gen.StreamPlan, t0: float, rec_dir: str,
                 ctl_dir: str, tmp_dir: str):
        super().__init__(name="open-loop-writer", daemon=True)
        self.plan, self.t0 = plan, t0
        self.rec_dir, self.ctl_dir, self.tmp_dir = rec_dir, ctl_dir, tmp_dir
        self.lock = threading.Lock()
        self.sent = 0
        self.late_ms: list[float] = []
        self.stop_flag = threading.Event()
        self.error: Exception | None = None

    def _publish(self, table, dest: str, name: str) -> None:
        tmp = os.path.join(self.tmp_dir, name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(dest, name))

    def run(self) -> None:
        try:
            for tick in self.plan.ticks:
                due = self.t0 + tick.index * gen.TICK_MS / 1000
                if self.stop_flag.wait(max(0.0, due - time.time())):
                    return
                # records first: a control never overtakes records due before it
                if tick.records is not None:
                    self._publish(tick.records, self.rec_dir, f"r{tick.index:06d}.parquet")
                if tick.controls is not None:
                    self._publish(tick.controls, self.ctl_dir, f"c{tick.index:06d}.parquet")
                with self.lock:
                    self.sent += tick.records.num_rows if tick.records is not None else 0
                    self.late_ms.append((time.time() - due) * 1000)
        except Exception as e:  # surfaced by the caller after join()
            self.error = e


@dataclass
class Sink:
    """foreachBatch target: routed rows plus their arrival time."""

    ignore: str = ""  # batch id whose rows are not kept (the warm-up batch)
    arrivals: list = field(default_factory=list)  # (arrival s, pa.Table)
    routed: int = 0
    notes: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def __call__(self, df, epoch_id) -> None:
        due = F.expr(f"filter(headers, h -> h.key = '{gen.DUE_HEADER}')[0].value")
        t = df.select(
            "dest", "batch_id", check.row_hash_col().alias("h"),
            F.when(F.col("dest") == "notification", F.col("value")).alias("value"),
            due.cast("string").cast("long").alias("due_ms"),
        ).toArrow()
        arrived = time.time()
        t = t.filter(pc.not_equal(t.column("batch_id"), self.ignore))
        n_notes = t.column("dest").to_pylist().count("notification")
        with self.lock:
            self.arrivals.append((arrived, t))
            self.routed += t.num_rows - n_notes
            self.notes += n_notes


WARM_BATCH = gen.Batch("warm-up", "happy", 20, 0)


def _warm_up(query, dirs: dict, timeout_s: float) -> None:
    """Publish one small batch and wait until a trigger has routed it, so the
    measured phase starts on a warm query (state store, Python worker)."""
    b = WARM_BATCH
    rows = [(b.batch_id, j, 0) for j in range(b.n)]
    ctl = gen.controls_table([(b.batch_id, "started", None, -2),
                              (b.batch_id, "sendCompleted", b.n, 1)])
    rec = gen.records_table(rows, np.random.default_rng(0), 16, True)
    for table, dest, name in ((rec, dirs["rec"], "warm-r.parquet"),
                              (ctl, dirs["ctl"], "warm-c.parquet")):
        pq.write_table(table, os.path.join(dirs["tmp"], name))
        os.rename(os.path.join(dirs["tmp"], name), os.path.join(dest, name))
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        p = query.lastProgress
        if p is not None and p["numInputRows"] > 0:
            return
        time.sleep(0.1)
    raise RuntimeError("streaming query did not route the warm-up batch")


@dataclass
class StreamRun:
    sink: Sink
    late_ms: list  # writer lateness per tick
    progress: list  # StreamingQueryProgress as dicts
    backlog: list  # (s since t0, records sent - records routed), twice a second
    t0: float  # wall time of tick 0
    span: object  # the query's span


def run_stream(spark, tracer, plan: gen.StreamPlan, work: str, delay_ms: int,
               drain_timeout_s: float) -> StreamRun:
    """Warm the query up, publish ``plan`` open-loop, and return once every
    expected row and notification has reached the sink (or the drain
    timeout passed; the check then reports what is missing)."""
    dirs = {k: os.path.join(work, k) for k in ("rec", "ctl", "tmp", "ckpt")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    n_rows = sum(gen.expect(b).n_out + gen.expect(b).n_invalid for b in plan.batches)
    n_notes = sum(gen.expect(b).status is not None for b in plan.batches)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    records = (spark.readStream.schema(RECORD_DDL)
               .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER).parquet(dirs["rec"]))
    controls = (spark.readStream.schema(CONTROL_DDL)
                .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER).parquet(dirs["ctl"]))
    sink = Sink(ignore=WARM_BATCH.batch_id)
    backlog = []
    with tracer.span("stream.query") as qspan:
        routed = build_routed_stream(records, controls, completion_delay_ms=delay_ms,
                                     per_trigger_bound="source-option")
        query = (routed.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", dirs["ckpt"]).start())
        writer = None
        try:
            with tracer.span("stream.warmup"):
                _warm_up(query, dirs, 60)
            t0 = time.time() + 0.25
            writer = Writer(plan, t0, dirs["rec"], dirs["ctl"], dirs["tmp"])
            writer.start()
            give_up = t0 + plan.ticks[-1].index * gen.TICK_MS / 1000 + drain_timeout_s
            while True:
                time.sleep(0.5)
                if query.exception() is not None:
                    raise RuntimeError(f"streaming query failed: {query.exception()}")
                with writer.lock, sink.lock:
                    backlog.append((time.time() - t0, writer.sent - sink.routed))
                    done = sink.routed >= n_rows and sink.notes >= n_notes
                if done or time.time() > give_up:
                    break
        finally:
            if writer is not None:
                writer.stop_flag.set()
                writer.join()
            query.stop()
            progress = [json.loads(p.json) for p in query.recentProgress]
    if writer.error is not None:
        raise writer.error
    return StreamRun(sink, writer.late_ms, progress, backlog, t0, qspan)


def outcome(sink: Sink) -> check.Outcome:
    """The stream's routed rows, digested for :func:`check.compare`."""
    o = check.Outcome()
    for _, t in sink.arrivals:
        c = t.to_pydict()
        for dest, bid, h, value in zip(c["dest"], c["batch_id"], c["h"], c["value"]):
            if dest == "notification":
                o.add_note(bid, value)
            else:
                o.add(bid, dest, 1, h)
    return o
