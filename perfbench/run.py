"""HRI routing benchmark: one command, seeded traffic, every end-to-end
metric by name and unit, correctness checked once per run.

    python3 perfbench/run.py --workload many_batches --seed 1 --seconds 28 --trace 0

Run from the repository root. Each run replays the workload's traffic
through both batch engines, before and after it streams traffic of the same
payload width open-loop through ``build_routed_stream``; the workloads
differ in traffic shape. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). A fuller report goes to
``.perfbench_work/``. The exit status is 0 only when every output checked out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
DELAY_MS = 1000  # batch completion delay, replay and stream alike

MIX = (("happy", 0.6), ("late", 0.1), ("over", 0.1), ("short", 0.05),
       ("term", 0.05), ("unknown", 0.1))
# Stream batches have no stragglers: whether a straggler lands before or
# after the processing-time completion timer is a race, so its outcome is
# not closed-form.
STREAM_MIX = (("happy", 0.75), ("over", 0.1), ("short", 0.05), ("term", 0.05),
              ("unknown", 0.05))
STREAM_RATE = 400  # records/s, well below what the query drains here
# Small batches, many in flight: about 13 batches close per second, so the
# close-lag percentiles rest on a hundred or more batches per run.
STREAM_BATCH = (20, 40)  # records per stream batch
STREAM_IN_FLIGHT = 8
# Shares of --seconds: the open-loop stream, then timed replay passes. A
# trigger takes about two seconds here, so the stream gets the larger share:
# its metrics rest on the number of triggers it sees. The stream runs first:
# it warms code the relational engine shares, and passes timed before it run
# up to half again as long as passes timed after it. The replay runs a fixed
# number of rounds (one pass per engine, about 2.5 s a round), not a time
# budget, because the engines keep speeding up from pass to pass as the JVM
# warms, so every run must time the same passes.
REPLAY_SHARE = 0.35
REPLAY_ROUND_S = 2.5
STREAM_SHARE = 0.65

E2E_UNITS = {
    "setup_s": "s",
    "replay_sm_rps": "1/s",
    "replay_rel_rps": "1/s",
    "stream_latency_p50_ms": "ms",
    "stream_latency_p99_ms": "ms",
    "batch_close_lag_p50_ms": "ms",
    "batch_close_lag_p90_ms": "ms",
    "peak_rss_mb": "MB",
}
_ENGINE_LAYER = {"executor_run_s": "s", "executor_cpu_s": "s", "shuffle_write_mb": "MB",
                 "shuffle_read_mb": "MB", "spill_mb": "MB"}
LAYER_UNITS = {
    "sm.build_s": "s", "sm.exec_s": "s", "sm.groups": "count", "sm.jobs": "count",
    "sm.python_in_mb": "MB", "sm.python_out_mb": "MB",
    "rel.build_s": "s", "rel.exec_s": "s", "rel.build_jobs": "count",
    "rel.jobs": "count", "rel.stages": "count",
    **{f"{e}.{k}": u for e in ("sm", "rel") for k, u in _ENGINE_LAYER.items()},
    "materialize.calls": "count", "materialize.eager_s": "s",
    "batch_state.core_rps": "1/s",
    "stream.trigger_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.rows_per_trigger": "count", "stream.state_rows": "count",
    "stream.state_memory_mb": "MB", "stream.state_commit_ms": "ms",
    "stream.no_data_triggers": "count", "stream.backlog_rows": "count",
    "generator.late_ms_max": "ms", "span.coverage_pct": "%",
}


@dataclass(frozen=True)
class Workload:
    replay_batches: int
    replay_records: tuple[int, int]  # records per replay batch
    payload: int  # bytes per record value, replay and stream
    replay_mix: tuple


WORKLOADS = {
    # per-group dispatch (sm) and plan build (rel) dominate
    "many_batches": Workload(300, (50, 150), 256, MIX),
    # bytes across the Arrow boundary, shuffle and executor time dominate
    "wide_payload": Workload(4, (5500, 6500), 4096, (("happy", 0.75), ("over", 0.25))),
}


class RssSampler(threading.Thread):
    """Peak memory of this process and its descendants (the JVM and the
    Python workers), sampled every 200 ms from /proc. Each process counts
    its proportional set size, so pages the forked Python workers share are
    counted once. A process counts only from its second sample on: the
    short-lived helpers the JVM forks for shell commands would otherwise
    show the whole JVM a second time while they exec."""

    def __init__(self):
        super().__init__(name="rss-sampler", daemon=True)
        self.peak = 0
        self.peak_by_process: dict[str, int] = {}  # MB per process at the peak
        self.stop_flag = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    @classmethod
    def tree_pss(cls) -> dict[int, int]:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
        mine, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier and p not in mine]
            mine.update(frontier)
        return {p: cls._pss(p) for p in mine}

    def run(self) -> None:
        seen: set[int] = set()
        while not self.stop_flag.wait(0.2):
            sample = self.tree_pss()
            by_pid = {p: v for p, v in sample.items() if p in seen}
            seen = set(sample)
            total = sum(by_pid.values())
            if total > self.peak:
                self.peak = total
                self.peak_by_process = {
                    f"{pid}:{self._cmd(pid)}": v >> 20 for pid, v in by_pid.items() if v >> 20}

    @staticmethod
    def _cmd(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            return "?"
        return " ".join(a.decode(errors="replace").rsplit("/", 1)[-1] for a in args[:3])[:60]


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed, pre-touched heap keeps the JVM's share of peak memory
        # independent of when garbage collection happened to grow the heap
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return conf


def wrap_materialize(tracer, counts: dict) -> None:
    """Count and time ``materialize.materialize`` as the relational engine
    calls it, each call in its own span."""
    from hri_flink_validation_passthrough_spark.operators import passthrough_relational

    inner = passthrough_relational.materialize

    def timed(df, *a, **kw):
        with tracer.span("materialize") as s:
            try:
                return inner(df, *a, **kw)
            finally:
                counts["calls"] += 1
                counts["seconds"] += time.time() - s.start

    passthrough_relational.materialize = timed


def stream_e2e(sr, plan) -> tuple[dict, dict]:
    """Latency and batch-close lag from the sink's arrival times, skipping
    the records and batches due in the first two seconds, while the query's
    triggers settle."""
    import gen

    first = min(tk.index for tk in plan.ticks if tk.records is not None) * gen.TICK_MS
    warm_cut = first + 2000
    lat, note_at = [], {}
    for arrived, t in sr.sink.arrivals:
        c = t.select(["dest", "batch_id", "due_ms"]).to_pydict()
        for dest, bid, due in zip(c["dest"], c["batch_id"], c["due_ms"]):
            if dest == "notification":
                note_at[bid] = arrived
            elif due >= warm_cut:
                lat.append((arrived - (sr.t0 + due / 1000)) * 1000)
    kinds = {b.batch_id: b.kind for b in plan.batches}
    lag = [(note_at[bid] - (sr.t0 + (max(sc, last) + DELAY_MS) / 1000)) * 1000
           for bid, (sc, last) in plan.due.items()
           if kinds[bid] == "happy" and bid in note_at and last >= warm_cut]
    metrics = {
        "stream_latency_p50_ms": percentile(lat, 50),
        "stream_latency_p99_ms": percentile(lat, 99),
        "batch_close_lag_p50_ms": percentile(lag, 50),
        "batch_close_lag_p90_ms": percentile(lag, 90),
    }
    end = plan.ticks[-1].index * gen.TICK_MS / 1000
    backlog = [b for s, b in sr.backlog if warm_cut / 1000 <= s <= end]
    half = len(backlog) // 2
    validity = {
        "generator_late_ms_max": max(sr.late_ms, default=0.0),
        "generator_late_over_tick": max(sr.late_ms, default=0.0) > gen.TICK_MS,
        "backlog_max": max(backlog, default=0),
        "backlog_first_half": statistics.fmean(backlog[:half]) if half else 0.0,
        "backlog_second_half": statistics.fmean(backlog[half:]) if half else 0.0,
        "latency_samples": len(lat),
        "close_lag_samples": len(lag),
    }
    validity["backlog_grew"] = (validity["backlog_second_half"]
                                > 1.5 * validity["backlog_first_half"] + STREAM_RATE)
    return metrics, validity


def layer_metrics(tracer, pass_spans, jobs, stages, sr, n_replay, n_groups,
                  core_s, mat, validity) -> dict:
    """Per-layer values of the traced run."""
    import spans

    def child(engine, name):
        return [c for s in pass_spans[engine] for c in tracer.children(s.span_id)
                if c.name == f"{engine}.{name}"]

    out = {
        "sm.groups": n_groups,
        "materialize.calls": mat["calls"] / len(pass_spans["rel"]),
        "materialize.eager_s": mat["seconds"] / len(pass_spans["rel"]),
        "batch_state.core_rps": n_replay / core_s,
        "rel.build_jobs": spans.median(spans.attribute(jobs, stages, tracer.subtree(c.span_id))
                                       ["jobs"] for c in child("rel", "build")),
    }
    for engine in ("sm", "rel"):
        rows = [spans.attribute(jobs, stages, tracer.subtree(s.span_id))
                for s in pass_spans[engine]]
        r = {k: spans.median(row[k] for row in rows) for k in rows[0]}
        out[f"{engine}.build_s"] = spans.median(c.duration for c in child(engine, "build"))
        out[f"{engine}.exec_s"] = spans.median(c.duration for c in child(engine, "exec"))
        out[f"{engine}.jobs"] = r["jobs"]
        for k in _ENGINE_LAYER:
            out[f"{engine}.{k}"] = r[k]
        if engine == "sm":
            out["sm.python_in_mb"] = r["python_in_mb"]
            out["sm.python_out_mb"] = r["python_out_mb"]
        else:
            out["rel.stages"] = r["stages"]

    trig = [t for t in spans.triggers(sr.progress) if t.start >= sr.t0]
    busy = [t for t in trig if t.input_rows > 0]

    def dur(key):
        return spans.median(t.duration_ms.get(key, 0) for t in busy)

    out.update({
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.rows_per_trigger": spans.median(t.input_rows for t in busy),
        "stream.state_rows": spans.median(t.state_rows for t in busy),
        "stream.state_memory_mb": spans.median(t.state_memory_bytes for t in busy) / (1 << 20),
        "stream.state_commit_ms": spans.median(t.state_commit_ms for t in busy),
        "stream.no_data_triggers": sum(t.input_rows == 0 for t in trig),
        "stream.backlog_rows": validity["backlog_max"],
        "generator.late_ms_max": validity["generator_late_ms_max"],
        "span.coverage_pct": 100 * min(tracer.coverage(s) for v in pass_spans.values()
                                       for s in v),
    })
    return out


def run(args, work: str, out_dir: str, rss: RssSampler) -> dict:
    import pyarrow.parquet as pq

    from hri_flink_validation_passthrough_spark.session import build_session

    import check
    import gen
    import replay
    import spans
    import stream

    wl = WORKLOADS[args.workload]
    trace = args.trace == 1
    tracer = spans.Tracer(trace)

    # -- inputs: the benchmark's own work, outside every metric --------------
    batches = gen.plan(gen.Shape(wl.replay_batches, *wl.replay_records, wl.payload,
                                 wl.replay_mix), args.seed, "b")
    rec_t, ctl_t = gen.batch_tables(batches, args.seed, wl.payload, DELAY_MS)
    paths = []
    for t, name in ((rec_t, "rec"), (ctl_t, "ctl")):
        paths.append(os.path.join(work, f"{name}.parquet"))
        pq.write_table(t, paths[-1])
    n_stream = max(8, round(STREAM_RATE * STREAM_SHARE * args.seconds / (sum(STREAM_BATCH) / 2)))
    splan = gen.stream_ticks(
        gen.plan(gen.Shape(n_stream, *STREAM_BATCH, wl.payload, STREAM_MIX), args.seed + 1, "s"),
        args.seed, wl.payload, STREAM_RATE, STREAM_IN_FLIGHT)
    log(f"inputs: {rec_t.num_rows} replay records, {splan.n_records} stream records")
    mat = {"calls": 0, "seconds": 0.0}
    if trace:
        wrap_materialize(tracer, mat)

    # -- set-up: the session, then the check pass ------------------------------
    # The check pass routes the replay once through each engine, cold, and
    # digests the output in the JVM: the first routed result a user gets. It
    # also warms the plans for the timed passes.
    tracer.new_trace("setup")
    with tracer.span("setup") as setup:
        spark = build_session("perfbench", cpus=min(4, os.cpu_count() or 4),
                              extra_conf=session_conf(work, trace))
        spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = spark.sparkContext
        with tracer.span("check"):
            got = {e: replay.check_outcome(spark, e, *paths, DELAY_MS) for e in replay.ENGINES}
    log(f"set-up and check pass {setup.duration:.2f}s")

    # -- stream ------------------------------------------------------------------
    tracer.new_trace("stream")
    sr = stream.run_stream(spark, tracer, splan, os.path.join(work, "stream"), DELAY_MS,
                           drain_timeout_s=30)
    log(f"stream done: {len(sr.progress)} triggers")
    bad = {"stream": check.compare(splan.batches, stream.outcome(sr.sink),
                                   check.expected_stream(splan), full_notes=False)}
    for t in spans.triggers(sr.progress):
        tracer.add("stream.trigger", t.start, t.end, sr.span.span_id,
                   batch_id=t.batch_id, input_rows=t.input_rows)

    # -- replay: one untimed round, timed rounds, then the reference -----------------
    # Each engine's first noop pass compiles code the check pass did not
    # need and runs about a fifth slower than the passes after it.
    replay.run_passes(spark, tracer, tuple(paths), DELAY_MS, range(1))
    mat.update(calls=0, seconds=0.0)
    rounds = max(3, round(REPLAY_SHARE * args.seconds / REPLAY_ROUND_S))
    pass_spans = replay.run_passes(spark, tracer, tuple(paths), DELAY_MS, range(1, rounds + 1))
    log(f"replay passes sm {[round(x.duration, 2) for x in pass_spans['sm']]} "
        f"rel {[round(x.duration, 2) for x in pass_spans['rel']]}")
    ref, core_s = check.reference_replay(rec_t, ctl_t, DELAY_MS)
    for e in replay.ENGINES:
        bad[e] = check.compare(batches, got[e], ref, full_notes=e == "sm")
    # the reference itself must meet the closed-form expectations
    bad["reference"] = check.compare(batches, ref, None, full_notes=False)
    spark.stop()

    # -- metrics -------------------------------------------------------------------
    n_replay = rec_t.num_rows
    e2e = {
        "setup_s": setup.duration,
        "replay_sm_rps": n_replay / statistics.median(s.duration for s in pass_spans["sm"]),
        "replay_rel_rps": n_replay / statistics.median(s.duration for s in pass_spans["rel"]),
        "peak_rss_mb": rss.peak / (1 << 20),
    }
    stream_metrics, validity = stream_e2e(sr, splan)
    e2e.update(stream_metrics)
    validity["replay_pass_s"] = {e: [round(s.duration, 3) for s in v]
                                 for e, v in pass_spans.items()}
    # per trigger of the measured stream: triggerExecution, addBatch, state commit
    validity["stream_trigger_ms"] = [
        (t.duration_ms.get("triggerExecution", 0), t.duration_ms.get("addBatch", 0),
         round(t.state_commit_ms)) for t in spans.triggers(sr.progress) if t.start >= sr.t0]
    validity["peak_mb_by_process"] = rss.peak_by_process
    metrics, units = e2e, E2E_UNITS
    if trace:
        jobs, stages = spans.read_event_log(os.path.join(work, "eventlog"))
        metrics, units = layer_metrics(tracer, pass_spans, jobs, stages, sr, n_replay,
                                       len(batches), core_s, mat, validity), LAYER_UNITS
        validity["coverage_by_pass"] = {s.trace_id: round(tracer.coverage(s), 4)
                                        for v in pass_spans.values() for s in v}
        for s in tracer.spans:  # each span's own jobs and stage metrics
            own = spans.attribute(jobs, stages, {s.span_id})
            if own["jobs"]:
                s.attrs.update(own)
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    if set(metrics) != set(units):
        raise RuntimeError(f"metric names drifted: {sorted(set(metrics) ^ set(units))}")

    kinds = {b.batch_id: b.kind for b in batches + splan.batches}
    failed = sum(len(v) for v in bad.values())
    return {
        "correct": failed == 0,
        # timed passes, plus one per batch for each engine, the reference
        # and the stream
        "attempted": (sum(len(v) for v in pass_spans.values())
                      + len(batches) * (len(replay.ENGINES) + 1) + len(splan.batches)),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        "e2e": e2e,
        "validity": validity,
        "mismatched": {path: {b: kinds.get(b) for b in ids[:20]}
                       for path, ids in bad.items() if ids},
    }


def stop_spark() -> None:
    """Stop any session this process still holds and wait for its JVM: the
    gateway JVM exits once its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import hri_flink_validation_passthrough_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, ".perfbench_work")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=out_dir)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, its Python workers, every JVM and this process keep their files
    # in the run dir (no hsperfdata under /tmp either)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    rss = RssSampler()
    rss.start()
    try:
        result = run(args, work, out_dir, rss)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_spark()
        rss.stop_flag.set()
        rss.join()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # tracing overhead: traced minus untraced values of the same workload and seed
        base = os.path.join(out_dir, f"report-{args.workload}-{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["e2e"]
            result["validity"]["tracing_overhead"] = {
                k: result["e2e"][k] - v for k, v in untraced.items()}
    report = os.path.join(out_dir, f"report-{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(report, "w") as f:
        json.dump(result, f, indent=1, default=str)
    print(json.dumps(result["validity"], default=str), file=sys.stderr)
    if result["mismatched"]:
        print(f"perfbench: mismatched batches {result['mismatched']}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
