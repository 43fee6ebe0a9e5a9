"""Per-query Spark jobs, tasks, CPU and shuffle bytes from Spark's event log.

Usage: python tools/profile_query.py <data_dir> [query ...]

``data_dir`` holds the registry's input tables (``events``, ``documents``,
``embeddings`` parquet; ``perfbench.regdata.write_tables`` writes a set).
Without query names it profiles the benchmark's ``registry`` entries.

Each query runs twice, its output written to the noop sink as the benchmark
does. The first pass warms the session (Python workers, cached schemas) and
is not reported. The second pass tags each query's jobs with
``setJobGroup``; after the session stops, the local event log is read back
and one line per query shows its wall, jobs, tasks, executor CPU and
shuffle bytes written, followed by the pass total. No Spark UI and no
network are involved.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    data_dir, names = sys.argv[1], sys.argv[2:]

    from perfbench.trace import event_log_conf, read_event_log
    from sorting_compressed_time_series_spark.queries import SPARK_QUERIES
    from sorting_compressed_time_series_spark.session import get_spark

    if not names:
        from perfbench.workloads import REGISTRY_RUN
        names = list(REGISTRY_RUN)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    log_dir = tempfile.mkdtemp(prefix="profile-events-")
    try:
        spark = get_spark(app="profile", cores=cores, shuffle_partitions=cores,
                          extra=event_log_conf(log_dir))
        sc = spark.sparkContext

        def run(name: str) -> None:
            SPARK_QUERIES[name](spark, data_dir).write.mode("overwrite").format("noop").save()

        for name in names:
            run(name)
        walls = {}
        for name in names:
            sc.setJobGroup(f"profile:{name}", name, False)
            t0 = time.perf_counter()
            run(name)
            walls[name] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.stop()
        jobs = read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    rows = {}
    for name in names:
        mine = [j for j in jobs if j["group"] == f"profile:{name}"]
        rows[name] = (walls[name], len(mine), int(sum(j["tasks"] for j in mine)),
                      sum(j["cpu_s"] for j in mine),
                      sum(j["shuffle_write_bytes"] for j in mine) / 1024)
    rows["TOTAL"] = tuple(map(sum, zip(*rows.values())))
    print(f"{'query':28s} {'wall_s':>7s} {'jobs':>5s} {'tasks':>6s} {'cpu_s':>7s} {'shuffle_w_KB':>12s}")
    for label, (wall, njobs, tasks, cpu_s, shuffle_kb) in rows.items():
        print(f"{label:28s} {wall:7.3f} {njobs:5d} {tasks:6d} {cpu_s:7.2f} {shuffle_kb:12.1f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
