"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

Run from the repository root. The corrupted-row test starts a local Spark
session; the others are pure Python.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _replay_inputs(seed: int):
    wl = run.WORKLOADS["many_batches"]
    batches = gen.plan(gen.Shape(60, *wl.replay_records, wl.payload, wl.replay_mix), seed, "b")
    return batches, gen.batch_tables(batches, seed, wl.payload, run.DELAY_MS)


def _stream_plan(seed: int):
    batches = gen.plan(gen.Shape(40, *run.STREAM_BATCH, 64, run.STREAM_MIX), seed, "s")
    return gen.stream_ticks(batches, seed, 64, run.STREAM_RATE, run.STREAM_IN_FLIGHT)


def _stream_digest(p: gen.StreamPlan) -> tuple:
    tables = [t for tk in p.ticks for t in (tk.records, tk.controls) if t is not None]
    return [tk.index for tk in p.ticks], p.due, gen.table_digest(*tables)


def test_same_seed_same_inputs_and_expectations():
    b1, t1 = _replay_inputs(5)
    b2, t2 = _replay_inputs(5)
    assert gen.table_digest(*t1) == gen.table_digest(*t2)
    assert [gen.expect(b) for b in b1] == [gen.expect(b) for b in b2]
    assert _stream_digest(_stream_plan(5)) == _stream_digest(_stream_plan(5))
    b3, t3 = _replay_inputs(6)
    assert gen.table_digest(*t3) != gen.table_digest(*t1)
    assert _stream_digest(_stream_plan(6)) != _stream_digest(_stream_plan(5))


def test_every_lifecycle_kind_is_generated():
    batches, _ = _replay_inputs(5)
    assert {b.kind for b in batches} == {k for k, _ in run.MIX}


def test_reference_meets_closed_form_expectations():
    batches, (records, controls) = _replay_inputs(7)
    ref, _ = check.reference_replay(records, controls, run.DELAY_MS)
    assert check.compare(batches, ref, None, full_notes=False) == []


def test_stream_controls_keep_their_distance_from_records():
    """started lands CONTROL_GAP_TICKS before the batch's first record file
    and a terminate as far from the records on either side of it, so no
    trigger can see a record before the control that governs it."""
    p = _stream_plan(3)
    first, last, ctrl = {}, {}, {}
    for tk in p.ticks:
        if tk.records is not None:
            t = tk.records
            for bid, key in zip(t.column("batch_id").to_pylist(), t.column("key").to_pylist()):
                first.setdefault(bid, tk.index)
                last[bid] = tk.index
                ctrl.setdefault(("rec", bid), []).append((tk.index, key))
        if tk.controls is not None:
            for bid, status in zip(tk.controls.column("id").to_pylist(),
                                   tk.controls.column("status").to_pylist()):
                ctrl[(status, bid)] = tk.index
    for b in p.batches:
        if b.kind == "unknown":
            continue
        assert first[b.batch_id] - ctrl[("started", b.batch_id)] >= gen.CONTROL_GAP_TICKS
        if b.kind == "term":
            cut = ctrl[("terminated", b.batch_id)]
            for tick, key in ctrl[("rec", b.batch_id)]:
                j = int(key.rsplit(b":", 1)[1])
                assert abs(tick - cut) >= gen.CONTROL_GAP_TICKS
                assert (tick < cut) == (j <= b.extra)


def test_emitted_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from hri_flink_validation_passthrough_spark.session import build_session

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    s = build_session("perfbench-test", cpus=2, extra_conf=run.session_conf(
        str(tmp_path_factory.mktemp("perfbench")), trace=False))
    yield s
    s.stop()


def test_flipped_dest_fails_the_check(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    import replay

    batches, (records, controls) = _replay_inputs(9)
    paths = (str(tmp_path / "rec.parquet"), str(tmp_path / "ctl.parquet"))
    pq.write_table(records, paths[0])
    pq.write_table(controls, paths[1])
    ref, _ = check.reference_replay(records, controls, run.DELAY_MS)
    for engine in replay.ENGINES:
        routed = replay.build(spark, engine, *paths, run.DELAY_MS)
        assert check.compare(batches, check.engine_outcome(routed), ref,
                             full_notes=engine == "sm") == []
        victim = routed.where(F.col("dest") == "out").select("key").first()["key"]
        flipped = routed.withColumn(
            "dest", F.when((F.col("key") == F.lit(victim)) & (F.col("dest") == "out"),
                           F.lit("invalid")).otherwise(F.col("dest")))
        bad = check.compare(batches, check.engine_outcome(flipped), ref,
                            full_notes=engine == "sm")
        assert bad == [bytes(victim).decode().split(":")[0]]
