"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_load --seed 1 --seconds 12 --trace 0

Runs one workload (``bulk_load`` or ``registry``) through
the program's public API on ``local[<cores>]`` from this one process, checks
its outputs, and prints a table of every metric followed, as the last line
of standard output, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones (see perfbench/METRICS.md).
Everything the run writes goes under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

PROCESS_T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_driver_memory() -> str:
    """A sixth of host RAM, between 1 and 8 GiB, as a JVM size string."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mb = min(max(kb // 6144, 1024), 8192)
    return f"{mb}m"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_bytes(pid: int) -> dict[int, int]:
    """Proportional set size of ``pid`` and each of its descendants, by pid.

    PSS splits every shared page among the processes that map it, so the
    sum over forked Python workers (which share their parent's pages) and
    over a child the JVM is spawning counts each page once."""
    kids = _children_map()
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                out[p] = next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
    return out


class MemorySampler(threading.Thread):
    """Samples the process tree's summed PSS every ``period`` seconds and
    keeps the peak, with the number of processes it was summed over."""

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.peak_procs = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pss = tree_pss_bytes(os.getpid())
            if sum(pss.values()) > self.peak:
                self.peak, self.peak_procs = sum(pss.values()), len(pss)
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_load", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # bulk_load corpus size multiplier; the smoke tests run at a fraction
    ap.add_argument("--scale", type=float, default=1.0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; let Python workers
    import the program and this package; size the driver to the host."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_DRIVER_MEM", host_driver_memory())
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def format_table(workload: str, rows: list[tuple[str, float, str, str]]) -> str:
    lines = [f"# {workload}", f"{'metric':44} {'value':>16}  unit"]
    for name, value, unit, note in rows:
        lines.append(f"{name:44} {value:16.6g}  {unit}{'  ' + note if note else ''}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        from perfbench import workloads
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    sampler = MemorySampler()
    sampler.start()
    bench = workloads.make(args.workload, workloads.Context(
        work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        scale=args.scale, process_t0=PROCESS_T0))
    try:
        result = bench.run()
    finally:
        if bench.ctx.spark is not None:
            workloads.stop_session(bench.ctx.spark)
        sampler.stop()
    result.e2e["peak_pss_mb"] = (sampler.peak / 2**20, "MB",
                                 f"summed over {sampler.peak_procs} processes")

    wanted = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    shown = result.layers if args.trace else result.e2e
    units = dict(workloads.PER_LAYER)
    print(format_table(args.workload, [(k, v, u, note)
                                       for k, (v, u, note) in result.e2e.items()]))
    if args.trace:
        print(format_table(args.workload + " (traced)",
                           [(k, v, units.get(k, u), note)
                            for k, (v, u, note) in result.layers.items()]))
    for problem in result.problems:
        print(f"FAILED CHECK: {problem}")
    metrics = {name: {"value": float(shown.get(name, (0.0,))[0]), "unit": unit}
               for name, unit in wanted}
    ok = result.failed == 0 and result.timed_iterations > 0
    print(json.dumps({"correct": ok, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if result.timed_iterations > 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
