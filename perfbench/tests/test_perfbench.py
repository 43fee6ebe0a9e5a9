"""Tests of the benchmark itself: span arithmetic, a real Spark event log,
tiny-size runs of every workload (plain and traced), and the refusal to run
without the program.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import (  # noqa: E402
    Span,
    event_log_conf,
    read_event_log,
    span_breakdown,
    union_seconds,
)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_span_breakdown_self_time_and_gap():
    span = Span("r.1", "ingest", None, 10.0, 20.0)
    jobs = [dict(group="r.1", start=11.0, end=13.0, tasks=2, cpu_s=1.0, run_s=2.0,
                 shuffle_write_bytes=0, output_bytes=5, python_run_s=0.5,
                 to_python_bytes=7),
            dict(group="r.1", start=19.0, end=25.0, tasks=1, cpu_s=0.0, run_s=1.0,
                 shuffle_write_bytes=3, output_bytes=0, python_run_s=0.0,
                 to_python_bytes=0),
            dict(group="other", start=10.0, end=20.0, tasks=9, cpu_s=9.0, run_s=9.0,
                 shuffle_write_bytes=9, output_bytes=9, python_run_s=9.0,
                 to_python_bytes=9)]
    out = span_breakdown(span, jobs)
    assert out["tasks"] == 3 and out["output_bytes"] == 5
    assert out["driver_s"] == pytest.approx(10.0 - 2.0 - 1.0)  # job 2 clipped at 20
    assert out["gap_share"] == pytest.approx(5.0 / 10.0)  # job 2 ends 5 s late


def test_event_log_python_metrics_units(tmp_path):
    """A real event log: jobs join their job group, and the Python SQL
    metrics of Spark 4.1 read as seconds and bytes ("time to run Python
    workers" is a millisecond timing metric)."""
    import pyarrow as pa  # noqa: F401 - the mapInArrow below needs it

    from sorting_compressed_time_series_spark.session import get_spark

    log_dir = str(tmp_path / "eventlog")
    conf = event_log_conf(log_dir)
    conf["spark.sql.warehouse.dir"] = str(tmp_path / "wh")
    spark = get_spark(app="perfbench-eventlog", cores=2, shuffle_partitions=2, extra=conf)
    try:
        def slow_identity(batches):
            import time

            for b in batches:
                time.sleep(0.2)
                yield b

        spark.sparkContext.setJobGroup("probe.1", "probe", False)
        df = spark.range(0, 200_000, numPartitions=2).selectExpr("id", "id * 2 AS v")
        df.mapInArrow(slow_identity, schema=df.schema).write.format("noop") \
            .mode("overwrite").save()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    finally:
        spark.stop()
    jobs = [j for j in read_event_log(log_dir) if j["group"] == "probe.1"]
    assert jobs, "job group not found in the event log"
    tasks = sum(j["tasks"] for j in jobs)
    run_s = sum(j["run_s"] for j in jobs)
    py_s = sum(j["python_run_s"] for j in jobs)
    assert tasks >= 2
    assert sum(j["to_python_bytes"] for j in jobs) >= 200_000 * 8
    # each task sleeps >= 0.2 s per batch inside the Python worker
    assert 0.2 * tasks <= py_s <= run_s * 1.05 + 0.05


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.05"])
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1, p.stdout
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in m.values()), m
    elif workload == "bulk_load":
        for stage in ("ingest", "promote", "append", "merge_promote", "compact"):
            assert m[f"{stage}.tasks"] > 0 and m[f"{stage}.python_run_s"] > 0, stage
        assert m["codecs.t1.gorilla_values_per_s"] > 0
        assert m["trace.stage_gap_share"] <= 0.10
    else:
        assert m["ts_queries.tasks"] > 0 and m["curation_queries.tasks"] > 0
        assert all(m[f"query.{q}_s"] > 0 for q in
                   (n["name"][len("query."):-2] for n in SPEC["per_layer"]
                    if n["name"].startswith("query.")))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1",
              "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
