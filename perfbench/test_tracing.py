"""The traced run's fold, end to end on tiny inputs.

    python3 -m pytest perfbench/test_tracing.py -q

Runs every workload's operations once with the layers wrapped and the
event log on, then checks that each layer's job group reaches the log,
that the layers' task times add up to the task time the log gives the
traced jobs, and that the per-operation coverage adds up.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

TINY = {"N_POINTS": 2000, "N_ADDRESSES": 700, "N_MASK": 2000, "N_DOCS": 700}
EAGER = ("knn", "dedup.lsh", "dedup.clusters")  # layers that run jobs themselves


def test_union_and_minus():
    assert T._union([(0, 2), (1, 3), (5, 6)]) == 4
    assert T._minus([(0, 4)], [(1, 2), (3, 5)]) == 2


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is not None:
        pytest.skip("needs a fresh session to turn the event log on")
    log_dir = tmp_path_factory.mktemp("eventlog")
    mp = pytest.MonkeyPatch()
    for k, v in TINY.items():
        mp.setattr(W, k, v)
    mp.setenv("SPARK_GRAFT_EXTRA_CONF", (
        "spark.eventLog.enabled=true;spark.eventLog.compress=false;"
        f"spark.eventLog.dir=file://{log_dir}"
    ))
    from maskmypy_spark.session import get_spark

    spark = get_spark(app="perfbench-test", cores=2)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = T.Tracer(spark.sparkContext)
    tracer.install()
    try:
        for workload in W.OPERATIONS:
            tables = {k: v.cache() for k, v in W.make_inputs(spark, workload, 3).items()}
            for op in W.OPERATIONS[workload]:
                with tracer.span(T.OP_PREFIX + op):
                    W.run_op(op, tables)
            for df in tables.values():
                df.unpersist()
    finally:
        tracer.uninstall()
        spark.stop()
        mp.undo()
    events = T.read_events(str(log_dir))
    stages = T.parse(events)
    T.attribute(stages, tracer.spans)
    return stages, tracer.spans, events


def test_every_layer_reaches_the_log(traced):
    stages, spans, _ = traced
    groups = {s["group"] for s in stages.values()}
    for s in spans:
        if s["name"].startswith(T.OP_PREFIX):
            assert f"pb{s['id']}" in groups, s["name"]
    for layer in EAGER:
        ids = {f"pb{s['id']}" for s in spans if s["name"] == layer}
        assert ids & groups, f"no job of {layer} in the event log"
    got = {s["layer"] for s in stages.values() if s["op"] is not None}
    assert set(T.LAYERS) <= got, set(T.LAYERS) - got


def test_layer_task_time_sums_to_total(traced):
    """The layers' task times, from stage accumulables, add up to the run
    time of the tasks of every job started under a traced job group."""
    stages, spans, events = traced
    groups = {f"pb{s['id']}" for s in spans}
    traced_stages = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and (
            (e.get("Properties") or {}).get("spark.jobGroup.id") in groups
        ):
            traced_stages.update(e["Stage IDs"])
    total = sum(
        (e.get("Task Metrics") or {}).get("Executor Run Time", 0)
        for e in events
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in traced_stages
    ) / 1000.0
    layers = T.fold(stages, spans, 1)
    assert total > 0
    assert sum(layers[f"{name}.task_s"] for name in T.LAYERS) == pytest.approx(total)


def test_coverage_adds_up(traced):
    stages, spans, _ = traced
    cov = T.coverage(stages, spans)
    assert set(cov) == {op for ops in W.OPERATIONS.values() for op in ops}
    for op, c in cov.items():
        assert c["wall_s"] == pytest.approx(
            c["driver_s"] + sum(c["layers"].values()) - c["overlap_s"]
        ), op
        assert c["overlap_s"] >= -1e-9, op
        assert -1e-9 <= c["uncovered_s"] <= c["driver_s"] + 1e-9, op
    guessed = sum(c["guessed_task_s"] for c in cov.values())
    assert guessed == pytest.approx(T.guessed_task_seconds(stages.values()))


def test_counts_come_from_plan_nodes(traced):
    layers = T.fold(*traced[:2], 1)
    assert layers["distance_join.probe_rows"] > 0
    assert layers["distance_join.pair_rows"] > 0
    assert layers["dedup.lsh.candidate_pairs"] >= layers["dedup.lsh.verified_pairs"] > 0
