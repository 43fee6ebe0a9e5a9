"""The benchmark workloads and the metrics they report.

A run sets its Spark session up ``SETUP_CYCLES`` times, builds its inputs
untimed, then runs timed iterations until ``seconds`` have passed (at least
``min_iterations``), checking every iteration's output untimed. Timings are
medians over the run's iterations. The traced run alternates plain and
traced iterations and then runs the layer probes; ``bulk_load``'s traced run
also runs the late-append cycle. METRICS.md maps every metric to its layer.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.operators.ingest import flush
from sorting_compressed_time_series_spark.plans.pipeline import DEFAULT_TIERS, Pipeline
from sorting_compressed_time_series_spark.queries import ORACLES, SPARK_QUERIES
from sorting_compressed_time_series_spark.session import get_spark
from sorting_compressed_time_series_spark.sources.seriesize import EPOCH0
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import US_PER_DAY, Warehouse

from perfbench import regdata
from perfbench.probes import run_probes
from perfbench.trace import Tracer, event_log_conf, read_event_log, span_breakdown

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_CYCLES = 3
WARM_DOCS = 200

# input sizes at --scale 1
BULK_DOCS = 10000
LATE_NEW_DOCS = 1000  # the late batch: new docs, plus every REDELIVER_MOD-th
REDELIVER_MOD = 20    # corpus doc delivered a second time
LATE_CYCLES = 2

# registry entries backed by the curation operators (operators.dedup,
# similarity, textstats, curation, packing, multimodal); every other entry is
# a time-series query
CURATION_PREFIXES = ("dedup_", "ann_", "text_", "pack_", "multimodal_")
CURATION_NAMES = ("token_histogram", "decontaminate_ngram", "sample_stratified",
                  "quality_filter_topp", "curation_pipeline", "pii_scrub",
                  "doc_fingerprint")
# the registry entries the workload runs, in registry order
REGISTRY_RUN = ("roundtrip_bitpacked", "dedup_groups_keep", "dedup_minhash_lsh",
                "compaction_merge", "text_quality")


def is_curation(name: str) -> bool:
    return name.startswith(CURATION_PREFIXES) or name in CURATION_NAMES


STAGES = ("ingest", "promote", "append", "merge_promote", "compact",
          "ts_queries", "curation_queries")
STAGE_METRICS = (("tasks", "count"), ("cpu_s", "s"), ("shuffle_write_bytes", "bytes"),
                 ("output_bytes", "bytes"), ("python_run_s", "s"),
                 ("to_python_bytes", "bytes"), ("driver_s", "s"))
PIPELINE_CALLS = ("ingest", "promote", "retain", "append", "merge_promote", "compact")

END_TO_END = [("setup_s", "s"), ("iteration_s", "s"), ("peak_pss_mb", "MB")]
PER_LAYER = (
    [(f"pipeline.{c}_s", "s") for c in PIPELINE_CALLS]
    + [("flush.noop_s", "s"), ("flush.t1.kernel_s", "s"), ("arrow.passthrough_s", "s"),
       ("codecs.t1.encode_rows_s", "s"), ("codecs.t1.decode_rows_s", "s"),
       ("codecs.bytes_per_point", "B/point"), ("codecs.t1.gorilla_values_per_s", "1/s"),
       ("rollup.tiers_noop_s", "s"), ("warehouse.bytes", "bytes")]
    + [(f"{s}.{m}", u) for s in STAGES for m, u in STAGE_METRICS]
    + [(f"query.{q}_s", "s") for q in REGISTRY_RUN]
    + [("trace.overhead_s", "s"), ("trace.stage_gap_share", "ratio")]
)


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    trace: bool
    scale: float
    process_t0: float
    spark: object = None


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)  # name -> (value, unit, note)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    timed_iterations: int = 0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _wall(spans: dict, keys=None) -> float:
    return sum(s.wall for k, s in spans.items() if keys is None or k in keys)


def _now_us() -> int:
    """Retention clock: ``tier1_1s`` keeps only the corpus' second UTC day."""
    return (EPOCH0 // US_PER_DAY + 1) * US_PER_DAY + DEFAULT_TIERS[0].ttl_us


class _IterationFailed(Exception):
    pass


class Bench:
    """Shared run skeleton; subclasses define inputs, iterations and checks."""

    name = ""
    min_iterations = 1
    warmup = 0  # leading iterations that are still warming up

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.result = Result()
        self.tracer = Tracer(f"{self.name}-{ctx.seed}", enabled=False)
        self.iterations: list[dict] = []  # {"traced": bool, "spans": {key: Span}}
        self.extra: list[dict] = []  # traced spans outside the timed iterations

    # -- accounting ----------------------------------------------------------
    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.result.attempted += 1
        if not ok:
            self.result.failed += 1
            self.result.problems.append(f"{what}: {detail}" if detail else what)
        return ok

    def call(self, spans: dict, key: str, fn, *args, **kwargs):
        """Time one call into the program; a raise counts as a failure."""
        self.result.attempted += 1
        with self.tracer.timed(key) as span:
            try:
                out = fn(*args, **kwargs)
            except Exception as e:  # noqa: BLE001 - reported, run continues
                self.result.failed += 1
                self.result.problems.append(f"{key}: {type(e).__name__}: {str(e)[:300]}")
                raise _IterationFailed from e
        spans[key] = span
        return out

    # -- session -------------------------------------------------------------
    def session_conf(self) -> dict:
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.ctx.work, "spark-warehouse"),
            # a fixed-size heap, so that the JVM's footprint does not
            # depend on when the collector decides to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.path.join(self.ctx.work, 'tmp')}",
        }
        if self.ctx.trace:
            conf.update(event_log_conf(os.path.join(self.ctx.work, "eventlog")))
        return conf

    def setup(self) -> float:
        """Set the session up ``SETUP_CYCLES`` times and return the median
        cycle: ``get_spark`` plus a warm-up job. The first
        cycle counts from process start and launches the JVM; the later ones
        restart the session in that JVM. The warm-up job is a small flush,
        which starts the Python workers and loads the program into them."""
        cores = os.cpu_count() or 1
        walls = []
        for _ in range(SETUP_CYCLES):
            t = self.ctx.process_t0
            if self.ctx.spark is not None:
                self.ctx.spark.stop()
                t = time.perf_counter()
            self.ctx.spark = get_spark(app=f"perfbench-{self.name}", cores=cores,
                                       shuffle_partitions=cores, extra=self.session_conf())
            _noop(flush(generate_tokens_df(self.ctx.spark, WARM_DOCS, seed=self.ctx.seed),
                        self.ctx.seed))
            walls.append(time.perf_counter() - t)
        self.tracer.sc = self.ctx.spark.sparkContext
        return statistics.median(walls)

    # -- run -----------------------------------------------------------------
    def run(self) -> Result:
        r = self.result
        setup_s = self.setup()
        self.build()
        deadline = time.perf_counter() + self.ctx.seconds
        k = 0
        while k < self.min_iterations or time.perf_counter() < deadline:
            # the traced run alternates plain and traced iterations; the
            # difference between the two is the trace overhead
            traced = self.ctx.trace and k % 2 == 1
            self.tracer.enabled = traced
            spans: dict = {}
            try:
                self.iteration(k, spans)
                self.iterations.append({"k": k, "traced": traced, "spans": spans})
            except _IterationFailed:
                pass
            finally:
                self.tracer.enabled = False
            k += 1
        r.timed_iterations = len(self.iterations)
        walls = [_wall(it["spans"]) for it in self.iterations if not it["traced"]]
        r.e2e["setup_s"] = (setup_s, "s", f"median of {SETUP_CYCLES} set-ups")
        r.e2e["iteration_s"] = (_median(walls), "s", f"median of {len(walls)}: "
                                + " ".join(f"{w:.2f}" for w in walls))
        r.e2e.update(self.workload_metrics())
        if self.ctx.trace:
            self.traced_extras()
            spark, self.ctx.spark = self.ctx.spark, None
            stop_session(spark)  # flushes and closes the event log
            self.trace_metrics(read_event_log(os.path.join(self.ctx.work, "eventlog")))
        r.e2e["error_rate"] = (r.failed / max(r.attempted, 1), "fraction",
                               f"{r.failed} of {r.attempted} operations")
        return r

    def median_wall(self, keys, traced: bool = False, skip: int = 0) -> float:
        """Median over iterations (from the ``skip``-th) of the summed walls
        of spans ``keys``."""
        return _median([_wall(it["spans"], keys) for it in self.iterations
                        if it["traced"] == traced and it["k"] >= skip])

    def trace_metrics(self, jobs: list[dict]) -> None:
        layers = self.result.layers
        traced = [it["spans"] for it in self.iterations if it["traced"]] + self.extra
        for call in PIPELINE_CALLS:
            walls = [spans[call].wall for spans in traced if call in spans]
            layers[f"pipeline.{call}_s"] = (_median(walls), "s", f"median of {len(walls)}")
        per_stage: dict[str, list[dict]] = {}
        for spans in traced:
            for stage, group in self.stage_spans(spans).items():
                parts = [span_breakdown(s, jobs) for s in group]
                per_stage.setdefault(stage, []).append(
                    {k: sum(p[k] for p in parts) for k in parts[0]})
        gaps = []
        for stage, recs in per_stage.items():
            for m, unit in STAGE_METRICS:
                layers[f"{stage}.{m}"] = (_median([rec[m] for rec in recs]), unit,
                                          f"median of {len(recs)}")
            if stage in PIPELINE_CALLS:
                gaps.extend(rec["gap_share"] for rec in recs)
        layers["trace.overhead_s"] = (
            self.median_wall(None, True, self.warmup)
            - self.median_wall(None, False, self.warmup), "s",
            "traced minus plain iterations, after the warm-up ones")
        layers["trace.stage_gap_share"] = (max(gaps, default=0.0), "ratio",
                                           "max over pipeline stages")
        self.tracer.write(os.path.join(os.path.dirname(self.ctx.work),
                                       f"trace-{self.name}-{self.ctx.seed}.json"), jobs)

    # -- hooks ---------------------------------------------------------------
    def build(self) -> None:
        raise NotImplementedError

    def iteration(self, k: int, spans: dict) -> None:
        raise NotImplementedError

    def stage_spans(self, spans: dict) -> dict:
        """Event-log stage name -> the spans whose jobs make it up."""
        return {k: [s] for k, s in spans.items() if k in STAGES}

    def workload_metrics(self) -> dict:
        return {}

    def traced_extras(self) -> None:
        pass


# -- bulk_load ------------------------------------------------------------------

def tier_summary(spark, root: str) -> dict:
    """Per (tier, p_day): Σcnt, Σsum_v, rows and an order-free content hash,
    read back through a fresh Warehouse."""
    wh = Warehouse(root)
    parts = []
    for i, spec in enumerate(DEFAULT_TIERS):
        df = wh.read(spark, spec.name)
        parts.append(df.select(F.lit(i).alias("tier"), "p_day", "cnt", "sum_v",
                               F.xxhash64(*sorted(df.columns)).alias("h")))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    rows = df.groupBy("tier", "p_day").agg(
        F.sum("cnt"), F.sum("sum_v"), F.count(F.lit(1)), F.expr("bit_xor(h)")).collect()
    return {(r[0], r[1]): tuple(r[2:]) for r in rows}


def token_totals(df) -> tuple[int, int]:
    """(points, Σ tokens) of a tokens table."""
    row = df.agg(F.sum("n_tok"), F.sum(F.aggregate(
        "tokens", F.lit(0).cast("bigint"), lambda acc, x: acc + x))).collect()[0]
    return int(row[0] or 0), int(row[1] or 0)


def live_bytes(root: str) -> int:
    """Bytes of the live files (snapshot + segments) of every table."""
    wh, total = Warehouse(root), 0
    for table in ["chunks_tier0"] + [t.name for t in DEFAULT_TIERS]:
        m = wh.manifest(table)
        for d in ([m["snapshot"]] if m["snapshot"] else []) + m.get("segments", []):
            for dp, _, files in os.walk(os.path.join(root, table, d)):
                total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


class BulkLoad(Bench):
    name = "bulk_load"
    # the first two iterations are still warming up (JIT); the median of 6
    # is the mean of two warm ones
    min_iterations = 6
    warmup = 2

    def pipeline(self, root: str) -> Pipeline:
        return Pipeline(self.ctx.spark, Warehouse(root), n_buckets=os.cpu_count() or 1)

    def materialize(self, df, name: str):
        path = os.path.join(self.ctx.work, name)
        df.write.mode("overwrite").parquet(path)
        return self.ctx.spark.read.parquet(path)

    def build(self) -> None:
        self.n_docs = max(int(BULK_DOCS * self.ctx.scale), WARM_DOCS)
        self.tokens = self.materialize(
            generate_tokens_df(self.ctx.spark, self.n_docs, seed=self.ctx.seed), "corpus")
        self.points, self.token_sum = token_totals(self.tokens)
        self.refs: dict[str, dict] = {}
        self.last_root = None

    def check_tiers(self, root: str, label: str, points: int, token_sum: int) -> None:
        summ = tier_summary(self.ctx.spark, root)
        cutoff = (_now_us() - DEFAULT_TIERS[0].ttl_us) // US_PER_DAY
        by_tier = [{d: v for (t, d), v in summ.items() if t == i} for i in range(3)]

        def days(tier, keep=lambda d: True):
            return {d: v[:2] for d, v in by_tier[tier].items() if keep(d)}

        cnt = sum(v[0] for v in by_tier[2].values())
        tot = sum(v[1] for v in by_tier[2].values())
        self.check(f"{label}: Σcnt of tier3_1h", cnt == points, f"{cnt} != {points} points")
        self.check(f"{label}: Σsum_v of tier3_1h", tot == token_sum, f"{tot} != {token_sum}")
        self.check(f"{label}: tier2_1m Σcnt, Σsum_v per day match tier3_1h",
                   days(1) == days(2))
        self.check(f"{label}: tier1_1s keeps exactly the days from {cutoff}",
                   days(0) == days(2, lambda d: d >= cutoff)
                   and any(d < cutoff for d in by_tier[2]))
        kind = label.split()[0]
        ref = self.refs.setdefault(kind, summ)
        self.check(f"{label}: tier contents hash as in the first {kind}", summ == ref)

    def iteration(self, k: int, spans: dict) -> None:
        root = os.path.join(self.ctx.work, f"wh-{k}")
        try:
            p = self.pipeline(root)
            self.call(spans, "ingest", p.ingest, self.tokens, self.ctx.seed)
            self.call(spans, "promote", p.promote_all)
            self.call(spans, "retain", p.retain, _now_us())
            self.check_tiers(root, f"iteration {k}", self.points, self.token_sum)
            self.stored = live_bytes(root)
        finally:
            if self.last_root:
                shutil.rmtree(self.last_root, ignore_errors=True)
            self.last_root = root

    def workload_metrics(self) -> dict:
        raw = 16 * self.points
        return {
            "ingest_tokens_per_s": (self.points / self.median_wall({"ingest"}), "tokens/s",
                                    f"{self.points} points"),
            "pipeline_tokens_per_s": (self.points / self.median_wall(None), "tokens/s",
                                      "ingest + promote_all + retain"),
            "stored_bytes_per_raw_byte": (getattr(self, "stored", 0) / raw, "ratio",
                                          f"raw = 16 B x {self.points} points"),
        }

    def traced_extras(self) -> None:
        layers = self.result.layers
        chunks = Warehouse(self.last_root).read(self.ctx.spark, "chunks_tier0")
        for k, v in run_probes(self.tokens, chunks, self.ctx.seed).items():
            layers[k] = (v, "", "1 thread" if ".t1." in k else "")
        layers["warehouse.bytes"] = (float(live_bytes(self.last_root)), "bytes", "")
        self.late_cycles()

    def late_cycles(self) -> None:
        """Late data on a promoted warehouse: ``LATE_CYCLES`` times from the
        same base state (the corpus, ingested and promoted), append a batch of
        new docs plus re-delivered corpus docs (a second, fully overlapping
        chunk), then merge-promote, compact and retain."""
        spark, seed = self.ctx.spark, self.ctx.seed
        n_new = max(int(LATE_NEW_DOCS * self.ctx.scale), 10)
        again = self.tokens.filter(
            F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(REDELIVER_MOD)) == 0)
        late = self.materialize(generate_tokens_df(
            spark, n_new, seed=seed, start=self.n_docs).unionByName(again), "late")
        redelivered = again.count()
        late_points, late_sum = token_totals(late)
        base = os.path.join(self.ctx.work, "late-base")
        p = self.pipeline(base)
        p.ingest(self.tokens, seed)
        p.promote_all()
        self.tracer.enabled = True
        for k in range(LATE_CYCLES):
            root = os.path.join(self.ctx.work, f"late-{k}")
            shutil.copytree(base, root)
            spans: dict = {}
            try:
                p = self.pipeline(root)
                self.call(spans, "append", p.ingest, late, seed, append=True)
                self.call(spans, "merge_promote", p.promote_all)
                out = self.call(spans, "compact", p.compact)
                self.check(f"late cycle {k}: compact merged every re-delivered doc",
                           out.get("compacted_docs") == redelivered,
                           f"{out} vs {redelivered} re-delivered")
                self.call(spans, "late_retain", p.retain, _now_us())
                self.check_tiers(root, f"late cycle {k}", self.points + late_points,
                                 self.token_sum + late_sum)
                self.extra.append(spans)
            except _IterationFailed:
                pass
            finally:
                shutil.rmtree(root, ignore_errors=True)
        self.tracer.enabled = False
        med = lambda keys: _median([_wall(s, keys) for s in self.extra])
        self.result.e2e["append_freshness_s"] = (
            med({"append", "merge_promote"}), "s",
            f"traced, {late_points} late points, median of {len(self.extra)}")
        self.result.e2e["maintenance_s"] = (med({"compact", "late_retain"}), "s",
                                            "traced, compact + retain")


# -- registry -------------------------------------------------------------------

def _load_compare():
    """``compare`` from tools/check_correctness.py (not a package)."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class Registry(Bench):
    name = "registry"
    # the first pass after the output check is still warming up
    min_iterations = 3
    warmup = 1

    def build(self) -> None:
        # the tables are already small; --scale does not shrink them
        self.data = regdata.write_tables(
            os.path.join(self.ctx.work, "registry-data"), self.ctx.seed)
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        compare = _load_compare()
        # untimed check of every entry against its DuckDB oracle; it also
        # runs each entry once before it is timed
        for q in REGISTRY_RUN:
            try:
                got = SPARK_QUERIES[q](self.ctx.spark, self.data).toPandas()
                want = con.sql(ORACLES[q]).df()
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                self.check(f"{q} oracle check", False, f"{type(e).__name__}: {str(e)[:300]}")
                continue
            problems = compare(q, got, want)
            self.check(f"{q} matches its oracle", not problems and len(got) > 0,
                       "; ".join(problems) or "no rows")
        con.close()

    def iteration(self, k: int, spans: dict) -> None:
        # forced by writing every column to the noop sink
        for q in REGISTRY_RUN:
            self.call(spans, q, lambda q=q: _noop(SPARK_QUERIES[q](self.ctx.spark, self.data)))

    def stage_spans(self, spans: dict) -> dict:
        out: dict = {}
        for q, s in spans.items():
            out.setdefault("curation_queries" if is_curation(q) else "ts_queries", []).append(s)
        return out

    def workload_metrics(self) -> dict:
        cur = {q for q in REGISTRY_RUN if is_curation(q)}
        ts = set(REGISTRY_RUN) - cur
        return {"ts_queries_s": (self.median_wall(ts), "s", f"sum of {len(ts)} entries"),
                "curation_queries_s": (self.median_wall(cur), "s",
                                       f"sum of {len(cur)} entries")}

    def trace_metrics(self, jobs: list[dict]) -> None:
        super().trace_metrics(jobs)
        for q in REGISTRY_RUN:
            self.result.layers[f"query.{q}_s"] = (self.median_wall({q}, True), "s", "")


WORKLOADS = {b.name: b for b in (BulkLoad, Registry)}


def make(name: str, ctx: Context) -> Bench:
    return WORKLOADS[name](ctx)
