"""Batch replay through both engines: the state machine
(``run_pipeline_batch``) and the relational plan
(``route_records_relational``).

A timed pass reads the staged inputs, builds the engine's plan and forces
the result with the noop sink. The check pass digests the routed rows
instead and is not a timed pass.
"""

from __future__ import annotations

from hri_flink_validation_passthrough_spark.operators.passthrough import run_pipeline_batch
from hri_flink_validation_passthrough_spark.operators.passthrough_relational import (
    route_records_relational,
)

ENGINES = ("sm", "rel")


def build(spark, engine: str, rec_path: str, ctl_path: str, delay_ms: int):
    records = spark.read.parquet(rec_path)
    controls = spark.read.parquet(ctl_path)
    if engine == "sm":
        return run_pipeline_batch(records, controls, completion_delay_ms=delay_ms)
    return route_records_relational(records, controls, delay_ms=delay_ms)


def timed_pass(spark, tracer, engine: str, rec_path: str, ctl_path: str,
               delay_ms: int):
    """One pass: plan build, then the noop-sink action. Returns the pass
    span (children: ``<engine>.build``, ``<engine>.exec``)."""
    with tracer.span(f"{engine}.pass") as p:
        with tracer.span(f"{engine}.build"):
            df = build(spark, engine, rec_path, ctl_path, delay_ms)
        with tracer.span(f"{engine}.exec"):
            df.write.mode("overwrite").format("noop").save()
    return p


def check_outcome(spark, engine: str, rec_path: str, ctl_path: str, delay_ms: int):
    """The engine's routed output, digested for :func:`check.compare`."""
    import check

    return check.engine_outcome(build(spark, engine, rec_path, ctl_path, delay_ms))


def run_passes(spark, tracer, paths: tuple[str, str], delay_ms: int, rounds: range
               ) -> dict[str, list]:
    """Alternate the engines pass by pass, one round per number in
    ``rounds``; returns the pass spans, traced as ``<engine>-<round>``."""
    spans: dict[str, list] = {e: [] for e in ENGINES}
    for i in rounds:
        for engine in ENGINES:
            tracer.new_trace(f"{engine}-{i}")
            spans[engine].append(timed_pass(spark, tracer, engine, *paths, delay_ms))
    tracer.new_trace("run")
    return spans
