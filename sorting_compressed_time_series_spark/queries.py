"""Query registry: every operator from SURVEY.md §2, as (spark_fn, oracle_sql).

Each entry runs the engine's Spark path over the driver's testdata tables
and (where ANSI-SQL-expressible) carries a DuckDB oracle over the same
parquet that the correctness gate compares row-counts/schemas/value-hashes
against. The ``events`` table plays the time-series role (series key =
``user_id``); ``documents``/``embeddings`` drive the training-data
pipeline operators. As of round 5 every registry entry carries an exact
DuckDB oracle (zero rows-only entries): codec internals are oracled by a
splitmix64-in-SQL corpus regeneration plus closed-form plane-size
recomputation, LSH/MinHash/SimHash/IVF by engine-portable hashes (md5 /
splitmix64) the oracle recomputes, sequential scans by recursive CTEs.
The pytest suites remain the second, independent oracle layer.

Column-name discipline: every computed column is aliased identically in
the Spark code and the SQL (the driver hashes values under sorted column
names).
Floats: aggregates that accumulate doubles in parallel are quantized
(``floor(value*1e6)`` integer math) or rounded at emission on BOTH sides.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F
from pyspark.sql.types import StructType

from .codecs.chunk import (
    CODEC_DELTA,
    CODEC_DOD,
    CODEC_GORILLA_F64,
    CODEC_VARINT,
    decode_chunk,
    encode_chunk,
)
from .operators import windows as WIN
from .operators.compressed_sort import compressed_sort
from .codecs.bytealigned import delta_decode, delta_encode, varint_decode, varint_encode
from .operators.gapfill import gapfill
from .operators.rollup import (
    WINDOW_1H_US,
    WINDOW_1M_US,
    decode_points,
    promote,
    rollup_from_stats,
    rollup_tiers,
    with_avg,
)

US_1M = WINDOW_1M_US
US_1H = WINDOW_1H_US

# value quantization: exact integer math on both sides (no float-agg drift)
Q = "CAST(floor(value * 1000000) AS BIGINT)"


@functools.lru_cache(maxsize=64)
def _parquet_schema(path: str, size: int, mtime_ns: int) -> StructType:
    """The schema Spark infers for one version of a parquet file. Inference
    is a Spark job of its own; the file's (path, size, mtime) is the key, so
    a rewritten file is inferred again. The schema depends on the file
    alone, so every session shares the entry."""
    return SparkSession.active().read.parquet(path).schema


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local file's schema once
    per file version: later reads pass the cached schema and launch no
    job. Directories and non-local paths are read (and inferred) as is."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    st = os.stat(path)
    schema = _parquet_schema(path, st.st_size, st.st_mtime_ns)
    return spark.read.schema(schema).parquet(path)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _read_parquet(spark, f"{sf_dir}/events.parquet")
    # parquet timestamp[us] arrives as TIMESTAMP_NTZ; session TZ is pinned to
    # UTC so the cast matches DuckDB's naive epoch_us exactly
    return df.withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).withColumn(
        "q", F.floor(F.col("value") * 1_000_000).cast("bigint")
    )


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata table is a single small parquet file → a 1-partition
    # scan would run the (CPU-heavy) normalize/shingle expressions nearly
    # single-threaded; production corpora arrive in many files and skip this
    return _read_parquet(spark, f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_parquet(spark, f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# events → chunk encoding helpers (per-user series through the real codecs)
# ---------------------------------------------------------------------------

_ENC_SCHEMA = (
    "user_id bigint, count int, min_ts bigint, max_ts bigint, "
    "time_blob binary, value_blob binary"
)


def _collected_series(ev: DataFrame, *value_cols: str) -> DataFrame:
    """Per-user point arrays, sorted JVM-side: groupBy(user) →
    sort_array(collect_list(struct(ts_us, event_id, *values))).  Replaces the
    old per-group ``applyInPandas`` (which built a one-row pandas frame per
    group): the sort runs in whole-stage codegen and the downstream kernel
    sees whole Arrow batches of complete series — no per-group Python.

    The explicit ``repartition(user_id)`` IS the aggregation's one
    exchange (the groupBy reuses the partitioning — plan shows a single
    Exchange): it moves the list-building and sorting BEHIND the shuffle,
    where parallelism is the core count, instead of into the partial
    aggregate of the scan stage — the testdata events table is one
    single-row-group parquet file, so that scan stage is one task and the
    old plan built every partial list single-threaded. On a many-file
    production table the exchange carries the same bytes either way."""
    fields = ["ts_us", "event_id", *value_cols]
    par = ev.sparkSession.sparkContext.defaultParallelism
    return ev.repartition(par, "user_id").groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("pts")
    )


def _pts_np(b: pa.RecordBatch) -> tuple[np.ndarray, pa.StructArray, np.ndarray]:
    """(user_id int64, flat point structs, row splits) from a collected batch."""
    uid = b.column("user_id").to_numpy(zero_copy_only=False).astype(np.int64)
    pts = b.column("pts")
    if isinstance(pts, pa.ChunkedArray):
        pts = pts.combine_chunks()
    offs = pts.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return uid, pts.flatten(), offs - offs[0]


def _encode_user_series(spark: SparkSession, sf_dir: str, value_expr: str = "q",
                        codec_pair: tuple[int, int] = (CODEC_DELTA, CODEC_VARINT)) -> DataFrame:
    """events → one chunk per user: sort by (ts, event_id) JVM-side, encode
    ALL series of each Arrow batch through the batched codec kernels
    (``codecs.batched.encode_chunk_rows``) — no per-group Python at all."""
    from .codecs.batched import encode_chunk_rows
    from .operators.ingest import _binary_from_buffers

    ev = _events(spark, sf_dir).select(
        "user_id", "ts_us", "event_id", F.expr(value_expr).alias("v")
    )
    t_codec, v_codec = codec_pair

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            uid, flat, splits = _pts_np(b)
            ts = flat.field("ts_us").to_numpy(zero_copy_only=False).astype(np.int64)
            vals = flat.field("v").to_numpy(zero_copy_only=False)
            t_buf, t_sp = encode_chunk_rows(ts, splits, t_codec)
            v_buf, v_sp = encode_chunk_rows(vals, splits, v_codec)
            counts = np.diff(splits)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(uid),
                    pa.array(counts.astype(np.int32)),
                    pa.array(ts[splits[:-1]]),  # sorted → positional min/max
                    pa.array(ts[splits[1:] - 1]),
                    _binary_from_buffers(t_buf, t_sp),
                    _binary_from_buffers(v_buf, v_sp),
                ],
                names=["user_id", "count", "min_ts", "max_ts", "time_blob", "value_blob"],
            )

    pts = _collected_series(ev, "v")
    return pts.mapInArrow(kern, schema=_ENC_SCHEMA)


def _decode_user_series(chunks: DataFrame, out_value: str) -> DataFrame:
    from .operators.rollup import _blob_np

    def _plane(col: pa.Array) -> np.ndarray:
        """Decode one blob column with the codec-dispatching batched kernel
        (byte-aligned, DOD and Gorilla are all whole-batch numpy)."""
        from .codecs.batched import decode_chunk_rows

        buf, splits = _blob_np(col)
        vals, _ = decode_chunk_rows(buf, splits)
        return vals

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            uid = b.column("user_id").to_numpy(zero_copy_only=False)
            ts = _plane(b.column("time_blob"))
            vs = _plane(b.column("value_blob"))
            # per-row counts from the time plane headers
            tbuf, tsp = _blob_np(b.column("time_blob"))
            counts = np.zeros(b.num_rows, dtype=np.int64)
            valid = np.diff(tsp) >= 8
            st = tsp[:-1][valid]
            for k in range(4):
                counts[valid] |= tbuf[st + 4 + k].astype(np.int64) << (8 * k)
            users = np.repeat(uid.astype(np.int64), counts)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(users),
                    pa.array(np.asarray(ts, dtype=np.int64)),
                    pa.array(vs if np.asarray(vs).dtype == np.float64
                             else np.asarray(vs, dtype=np.int64)),
                ],
                names=["user_id", "ts_us", out_value],
            )

    out_type = "double" if out_value == "value" else "bigint"
    return chunks.mapInArrow(kern, schema=f"user_id bigint, ts_us bigint, {out_value} {out_type}")


# ---------------------------------------------------------------------------
# the registry
# ---------------------------------------------------------------------------

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# -- codecs end-to-end -------------------------------------------------------


@q(
    "roundtrip_bytealigned",
    f"""
    SELECT user_id, epoch_us(ts) AS ts_us, event_id
    FROM events
    """,
)
def roundtrip_bytealigned(spark, sf_dir):
    """TS_DELTA/V_VARINT pair end-to-end: encode each user's series, decode,
    emit every point (value plane carries event_id). The order-insensitive
    value hash against raw `events` proves exact round-trip at table scale
    (reference EncodeDecodeTest re-expression on real data)."""
    chunks = _encode_user_series(spark, sf_dir, value_expr="event_id")
    return _decode_user_series(chunks, "event_id_out").select(
        "user_id", "ts_us", F.col("event_id_out").alias("event_id")
    )


@q(
    "roundtrip_bitpacked",
    """
    SELECT user_id, epoch_us(ts) AS ts_us, value
    FROM events
    """,
)
def roundtrip_bitpacked(spark, sf_dir):
    """Delta-of-delta timestamps + Gorilla-XOR double values end-to-end
    (reference DeltaDeltaLongEncoder + DoublePrecisionEncoderV2 pair),
    through the batched multi-series kernels."""
    chunks = _encode_user_series(
        spark, sf_dir, value_expr="value", codec_pair=(CODEC_DOD, CODEC_GORILLA_F64)
    )
    return _decode_user_series(chunks, "value")


@q(
    "compressed_sort",
    f"""
    WITH b AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             epoch_us(ts) - CASE WHEN event_id % 37 = 0 THEN 7200000000 ELSE 0 END AS arrival_key
      FROM events
    )
    SELECT user_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts_us, arrival_key, event_id) AS seq,
           ts_us, event_id
    FROM b
    """,
)
def compressed_sort_q(spark, sf_dir):
    """The signature operator on real data: series arrive NEARLY sorted
    (every 37th event displaced 2h backwards), are encoded in arrival
    order, sorted in the compressed domain (rotation path), decoded.
    Output order is checked via seq (reference CompressedDataSorter
    correctness oracle, MemtableSortTest.testSortCorrect)."""
    ev = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.col("ts_us").alias("real_ts"),
            "event_id",
            (
                F.col("ts_us")
                - F.when(F.col("event_id") % 37 == 0, F.lit(7_200_000_000)).otherwise(0)
            ).alias("ts_us"),  # arrival key drives the JVM-side sort
        )
    )

    schema = "user_id bigint, seq bigint, ts_us bigint, event_id bigint"

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            uid, flat, splits = _pts_np(b)
            # arrival order = (arrival_key, event_id) — the collected sort key
            all_ts = flat.field("real_ts").to_numpy(zero_copy_only=False).astype(np.int64)
            all_ids = flat.field("event_id").to_numpy(zero_copy_only=False).astype(np.int64)
            out_ts, out_ids, counts = [], [], np.empty(b.num_rows, np.int64)
            for i in range(b.num_rows):  # rotation sorter is per-series by design
                td = delta_encode(all_ts[splits[i] : splits[i + 1]])
                vd = varint_encode(all_ids[splits[i] : splits[i + 1]])
                td, vd, _ = compressed_sort(td, vd)
                out_ts.append(delta_decode(td))
                out_ids.append(varint_decode(vd))
                counts[i] = len(out_ts[-1])
            seq = np.arange(1, len(all_ts) + 1) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(uid, counts)),
                    pa.array(seq),
                    pa.array(np.concatenate(out_ts)),
                    pa.array(np.concatenate(out_ids)),
                ],
                names=["user_id", "seq", "ts_us", "event_id"],
            )

    return _collected_series(ev, "real_ts").mapInArrow(kern, schema=schema)


# -- rollups ------------------------------------------------------------------


_ROLLUP_COLS = (
    "count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q, min(q) AS min_q, max(q) AS max_q, "
    "first(q ORDER BY ts_us, event_id) AS first_q, "
    "first(q ORDER BY ts_us DESC, event_id DESC) AS last_q"
)


def _rollup_oracle(window_us: int) -> str:
    return f"""
    WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, {Q} AS q FROM events)
    SELECT user_id, ts_us // {window_us} * {window_us} AS window_start, {_ROLLUP_COLS}
    FROM b GROUP BY 1, 2
    """


def _chunks_for_rollup(spark, sf_dir):
    ch = _encode_user_series(spark, sf_dir, value_expr="q")
    return ch.withColumn("doc_id", F.col("user_id").cast("string")).withColumn(
        "source", F.lit("events")
    )


def _tier_out(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("doc_id").cast("bigint").alias("user_id"),
        "window_start",
        F.col("cnt"),
        F.col("sum_v").alias("sum_q"),
        F.col("min_v").alias("min_q"),
        F.col("max_v").alias("max_q"),
        F.col("first_v").alias("first_q"),
        F.col("last_v").alias("last_q"),
    )


@q("rollup_1m", _rollup_oracle(US_1M))
def rollup_1m(spark, sf_dir):
    """Tumbling-window continuous aggregate computed FROM THE CHUNK BLOBS:
    encode per-user chunks, window partials inside the decode kernel,
    Catalyst final-aggregates (IoTDB GROUP BY ([t1,t2), 1m) semantics,
    left-closed right-open, epoch aligned)."""
    return _tier_out(rollup_tiers(_chunks_for_rollup(spark, sf_dir), [US_1M]).drop("tier"))


@q("rollup_1h_from_1m", _rollup_oracle(US_1H))
def rollup_1h_from_1m(spark, sf_dir):
    """Tier promotion: 1h aggregates composed from 1m aggregates only
    (sum of sums, min of mins, first by earliest first_ts...) — must equal
    a direct 1h rollup of the raw points (the multi-tier downsampling
    invariant)."""
    t1 = rollup_tiers(_chunks_for_rollup(spark, sf_dir), [US_1M]).drop("tier")
    return _tier_out(promote(t1, US_1H))


@q(
    "rollup_from_chunk_stats",
    f"""
    WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us, {Q} AS q FROM events)
    SELECT user_id, count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q, min(q) AS min_q,
           max(q) AS max_q, min(ts_us) AS min_ts, max(ts_us) AS max_ts
    FROM b GROUP BY 1
    """,
)
def rollup_from_chunk_stats_q(spark, sf_dir):
    """Statistics-only aggregation: answers per-series totals from chunk
    metadata columns without decoding a single blob (reference
    SeriesAggregationScanOperator fast path)."""
    ch = _encode_user_series(spark, sf_dir, value_expr="q")
    # recompute stats columns the chunk table would carry (count/min/max/sum)
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("user_id").agg(
        F.count("*").alias("count"),
        F.sum("q").alias("sum_v"),
        F.min("q").alias("min_v"),
        F.max("q").alias("max_v"),
        F.min("ts_us").alias("min_ts"),
        F.max("ts_us").alias("max_ts"),
    )
    chunks = ch.drop("min_ts", "max_ts", "count").join(stats, "user_id").withColumn(
        "doc_id", F.col("user_id").cast("string")
    ).withColumn("source", F.lit("events"))
    out = rollup_from_stats(chunks)
    return out.select(
        F.col("doc_id").cast("bigint").alias("user_id"),
        F.col("cnt"),
        F.col("sum_v").alias("sum_q"),
        F.col("min_v").alias("min_q"),
        F.col("max_v").alias("max_q"),
        "min_ts",
        "max_ts",
    )


@q(
    "sliding_window_10m_5m",
    f"""
    WITH b AS (SELECT user_id, epoch_us(ts) AS t, {Q} AS q FROM events),
    e AS (
      SELECT user_id, q,
             unnest(generate_series((t - 600000000) // 300000000 * 300000000 + 300000000,
                                    t // 300000000 * 300000000, 300000000)) AS window_start
      FROM b
    )
    SELECT user_id, window_start, count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q
    FROM e GROUP BY 1, 2
    """,
)
def sliding_window_10m_5m(spark, sf_dir):
    """Sliding windows (interval 10m, step 5m) via sequence+explode — the
    SlidingWindowAggregationOperator semantic without a range join."""
    ev = _events(spark, sf_dir)
    e = WIN.sliding_windows(ev, "ts_us", 600_000_000, 300_000_000)
    return e.groupBy("user_id", "window_start").agg(
        F.count("*").alias("cnt"), F.sum("q").alias("sum_q")
    )


# -- gap fill -----------------------------------------------------------------


_GAPFILL_BASE = f"""
    WITH hourly AS (
      SELECT user_id, epoch_us(ts) // {US_1H} * {US_1H} AS window_start,
             sum({Q}) * 1.0 / count(*) AS avg_q
      FROM events GROUP BY 1, 2
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(min(window_start), max(window_start), {US_1H})) AS window_start
      FROM hourly GROUP BY user_id
    ),
    j AS (
      SELECT s.user_id, s.window_start, h.avg_q
      FROM spine s LEFT JOIN hourly h USING (user_id, window_start)
    )
"""


def _gapfill_frame(spark, sf_dir):
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "user_id", F.expr(f"ts_us div {US_1H}").alias("wdiv")
    ).agg((F.sum("q") * 1.0 / F.count("*")).alias("avg_q"))
    return hourly.select(
        F.col("user_id").alias("doc_id"), (F.col("wdiv") * US_1H).alias("window_start"), "avg_q"
    )


@q(
    "gapfill_fill_modes",
    _GAPFILL_BASE
    + """
    , anchors AS (
      SELECT user_id, window_start, avg_q,
        last_value(avg_q IGNORE NULLS) OVER w_prev AS prev_v,
        last_value(CASE WHEN avg_q IS NOT NULL THEN window_start END IGNORE NULLS) OVER w_prev AS prev_t,
        first_value(avg_q IGNORE NULLS) OVER w_next AS next_v,
        first_value(CASE WHEN avg_q IS NOT NULL THEN window_start END IGNORE NULLS) OVER w_next AS next_t
      FROM j
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY window_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY window_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT 'previous' AS mode, user_id, window_start, prev_v AS filled FROM anchors
    UNION ALL
    SELECT 'linear', user_id, window_start,
           coalesce(avg_q, CASE WHEN prev_t IS NOT NULL AND next_t IS NOT NULL THEN
             prev_v + (next_v - prev_v) * (window_start - prev_t) / (next_t - prev_t) END)
    FROM anchors
    UNION ALL
    SELECT 'constant', user_id, window_start, coalesce(avg_q, 0.0) FROM j
    """,
)
def gapfill_fill_modes(spark, sf_dir):
    """All three FILL modes (PREVIOUS / LINEAR / constant — reference
    FillOperator, LinearFillOperator) as ONE gate entry tagged by ``mode``:
    one driver slot, full oracle coverage for each mode (the driver's
    correctness file holds at most 50 entries — merged so nothing drops).

    Computed from ONE shared anchors frame (the oracle's own CTE shape):
    a single scan + hourly aggregate + spine join + one window cascade
    (prev/next anchors share the sort) feeding three union-arm
    projections. The arms duplicate the window SUBTREE in the logical
    plan, but ReuseExchange collapses the shuffles, so only the window
    compute itself runs per arm — measured 1.3 s vs 2.9 s for the old
    per-mode composition (3 scans + 3 aggregates + 3 joins) and vs 9-10 s
    for a localCheckpoint of the ~1M-row anchors frame (row
    serialization costs more than recomputing the window over the reused
    exchange)."""
    from sorting_compressed_time_series_spark.operators.gapfill import window_spine

    base = _gapfill_frame(spark, sf_dir)
    spine = window_spine(base, US_1H)
    joined = spine.join(
        base.select("doc_id", "window_start", "avg_q"),
        ["doc_id", "window_start"],
        "left",
    )
    w_prev = (
        W.partitionBy("doc_id").orderBy("window_start")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = (
        W.partitionBy("doc_id").orderBy("window_start")
        .rowsBetween(0, W.unboundedFollowing)
    )
    col = F.col("avg_q")
    t_if = F.when(col.isNotNull(), F.col("window_start"))
    anchors = joined.select(
        F.col("doc_id").alias("user_id"),
        "window_start",
        "avg_q",
        F.last(col, ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(t_if, ignorenulls=True).over(w_prev).alias("prev_t"),
        F.first(col, ignorenulls=True).over(w_next).alias("next_v"),
        F.first(t_if, ignorenulls=True).over(w_next).alias("next_t"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.col("window_start") - F.col("prev_t")
    ) / (F.col("next_t") - F.col("prev_t"))
    arms = [
        anchors.select(
            F.lit("previous").alias("mode"), "user_id", "window_start",
            F.col("prev_v").alias("filled"),
        ),
        anchors.select(
            F.lit("linear").alias("mode"), "user_id", "window_start",
            F.coalesce(
                col,
                F.when(
                    F.col("prev_t").isNotNull() & F.col("next_t").isNotNull(),
                    interp,
                ),
            ).alias("filled"),
        ),
        anchors.select(
            F.lit("constant").alias("mode"), "user_id", "window_start",
            F.coalesce(col, F.lit(0.0)).alias("filled"),
        ),
    ]
    out = arms[0]
    for p in arms[1:]:
        out = out.unionByName(p)
    return out


@q(
    "gapfill_previous_bounded",
    _GAPFILL_BASE
    + f"""
    , anchors AS (
      SELECT user_id, window_start, avg_q,
        last_value(avg_q IGNORE NULLS) OVER w_prev AS prev_v,
        last_value(CASE WHEN avg_q IS NOT NULL THEN window_start END IGNORE NULLS) OVER w_prev AS prev_t
      FROM j
      WINDOW w_prev AS (PARTITION BY user_id ORDER BY window_start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, window_start,
           CASE WHEN window_start - prev_t <= {2 * US_1H} THEN prev_v END AS filled
    FROM anchors
    """,
)
def gapfill_previous_bounded(spark, sf_dir):
    """FILL(PREVIOUS, maxDuration): carry the previous value only across
    gaps no wider than the bound (2h here) — the bounded form in the
    reference grammar (IoTDBSqlParser.g4:757-759, FILL(PREVIOUS, duration)).
    Wider gaps stay NULL."""
    out = gapfill(_gapfill_frame(spark, sf_dir), US_1H, "avg_q", "previous",
                  max_gap_us=2 * US_1H)
    return out.select(F.col("doc_id").alias("user_id"), "window_start", "filled")


@q(
    "rollup_natural_month",
    f"""
    WITH b AS (SELECT user_id, epoch_us(date_trunc('month', ts)) AS month_start,
                      {Q} AS q FROM events)
    SELECT user_id, month_start, count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q,
           min(q) AS min_q, max(q) AS max_q
    FROM b GROUP BY 1, 2
    """,
)
def rollup_natural_month(spark, sf_dir):
    """Natural-month windows (reference
    PreAggrWindowWithNaturalMonthIterator): calendar-aligned buckets via
    date_trunc — irregular month lengths make integer-division bucketing
    impossible, the one window family that needs the calendar."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "user_id", WIN.natural_month("ts_us").alias("month_start")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("q").alias("sum_q"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
    )


# -- window framing variants --------------------------------------------------


@q(
    "session_window_30m",
    """
    WITH b AS (
      SELECT user_id, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts)) > 1800000000
                  THEN 1 ELSE 1 - CASE WHEN lag(epoch_us(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL THEN 0 ELSE 1 END
             END AS is_new
      FROM events
    ),
    s AS (
      SELECT user_id, t,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM b
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(t) AS start_ts, max(t) AS end_ts
    FROM s GROUP BY 1, 2
    """,
)
def session_window_30m(spark, sf_dir):
    """SessionWindow (gap > 30 min starts a new session): lag+cumsum islands
    (reference execution/operator/window/SessionWindow*)."""
    ev = _events(spark, sf_dir)
    s = WIN.session_windows(ev, "user_id", "ts_us", 1_800_000_000)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_ts"),
        F.max("ts_us").alias("end_ts"),
    )


@q(
    "count_window_20",
    f"""
    WITH b AS (
      SELECT user_id, event_id, epoch_us(ts) AS t, {Q} AS q,
             (row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) - 1) // 20
               AS count_window
      FROM events
    )
    SELECT user_id, count_window, count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q,
           min(t) AS min_ts, max(t) AS max_ts
    FROM b GROUP BY 1, 2
    """,
)
def count_window_20(spark, sf_dir):
    """CountWindow(20): fixed-size windows in time order (reference
    window/CountWindow*)."""
    ev = _events(spark, sf_dir)
    w = WIN.count_windows(ev, "user_id", "ts_us", 20, tiebreak="event_id")
    return w.groupBy("user_id", "count_window").agg(
        F.count("*").alias("cnt"),
        F.sum("q").alias("sum_q"),
        F.min("ts_us").alias("min_ts"),
        F.max("ts_us").alias("max_ts"),
    )


@q(
    "condition_window",
    f"""
    WITH b AS (
      SELECT user_id, event_id, epoch_us(ts) AS t, value,
             CAST(sum(CASE WHEN value > 50 THEN 0 ELSE 1 END) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS condition_group
      FROM events
    )
    SELECT user_id, condition_group, count(*) AS cnt,
           min(t) AS start_ts, max(t) AS end_ts
    FROM b WHERE value > 50 GROUP BY 1, 2
    """,
)
def condition_window(spark, sf_dir):
    """ConditionWindow (keep-value runs where value > 50): islands over the
    predicate (reference window/ConditionWindow*)."""
    ev = _events(spark, sf_dir)
    c = WIN.condition_windows(ev, "user_id", "ts_us", F.col("value") > 50, tiebreak="event_id")
    return c.groupBy("user_id", "condition_group").agg(
        F.count("*").alias("cnt"),
        F.min("ts_us").alias("start_ts"),
        F.max("ts_us").alias("end_ts"),
    )


@q(
    "variation_window_eq",
    """
    WITH b AS (
      SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
             CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER
                  (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    g AS (
      SELECT user_id, event_type, t,
             CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY t, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS variation_group
      FROM b
    )
    SELECT user_id, variation_group, any_value(event_type) AS event_type, count(*) AS cnt
    FROM g GROUP BY 1, 2
    """,
)
def variation_window_eq(spark, sf_dir):
    """VariationWindow(delta=0): consecutive equal values form one window
    (reference window/VariationWindow*)."""
    ev = _events(spark, sf_dir)
    v = WIN.variation_windows_eq(ev, "user_id", "ts_us", "event_type", tiebreak="event_id")
    return v.groupBy("user_id", "variation_group").agg(
        F.any_value("event_type").alias("event_type"), F.count("*").alias("cnt")
    )


# -- scans / last cache / joins ----------------------------------------------


@q(
    "last_point",
    """
    SELECT user_id,
           max(epoch_us(ts)) AS last_ts,
           first(value ORDER BY epoch_us(ts) DESC, event_id DESC) AS last_value
    FROM events GROUP BY 1
    """,
)
def last_point(spark, sf_dir):
    """LastCacheScanOperator: latest point per series via max_by."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.max("ts_us").alias("last_ts"),
        F.max_by("value", F.struct("ts_us", "event_id")).alias("last_value"),
    )


US_1D = 86_400_000_000

_JOIN_BASE = f"""
    WITH c AS (
      SELECT user_id, epoch_us(ts) // {US_1D} * {US_1D} AS m, count(*) AS n_click
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    v AS (
      SELECT user_id, epoch_us(ts) // {US_1D} * {US_1D} AS m, count(*) AS n_view
      FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
"""


def _minutely(spark, sf_dir, etype, alias):
    ev = _events(spark, sf_dir).filter(F.col("event_type") == etype)
    return ev.groupBy(
        "user_id", F.expr(f"(ts_us div {US_1D}) * {US_1D}").alias("m")
    ).agg(F.count("*").alias(alias))


@q("time_joins", _JOIN_BASE + """
    SELECT 'inner' AS jt, c.user_id, c.m AS ts_m, c.n_click, v.n_view
    FROM c JOIN v ON c.user_id = v.user_id AND c.m = v.m
    UNION ALL
    SELECT 'full', coalesce(c.user_id, v.user_id), coalesce(c.m, v.m),
           coalesce(c.n_click, 0), coalesce(v.n_view, 0)
    FROM c FULL OUTER JOIN v ON c.user_id = v.user_id AND c.m = v.m
    UNION ALL
    SELECT 'left', c.user_id, c.m, c.n_click, coalesce(v.n_view, 0)
    FROM c LEFT JOIN v ON c.user_id = v.user_id AND c.m = v.m
    """)
def time_joins(spark, sf_dir):
    """Inner / FullOuter / LeftOuter time joins (the reference's three
    TimeJoinOperators) as ONE gate entry tagged by ``jt`` — one driver
    slot, full oracle coverage for all three join shapes.

    The click/view aggregates are built ONCE and shared by all three
    joins: the old per-variant composition re-read and re-aggregated the
    events table 6x (6 file-listing jobs + 6 scan subtrees); with shared
    frames the identical aggregate exchanges are ReusedExchange-d across
    the union arms."""
    c = _minutely(spark, sf_dir, "click", "n_click")
    v = _minutely(spark, sf_dir, "view", "n_view")
    inner = c.join(v, ["user_id", "m"], "inner").select(
        F.lit("inner").alias("jt"), "user_id", F.col("m").alias("ts_m"),
        "n_click", "n_view",
    )
    full = c.join(v, ["user_id", "m"], "full_outer").select(
        F.lit("full").alias("jt"), "user_id", F.col("m").alias("ts_m"),
        F.coalesce("n_click", F.lit(0)).alias("n_click"),
        F.coalesce("n_view", F.lit(0)).alias("n_view"),
    )
    left = c.join(v, ["user_id", "m"], "left").select(
        F.lit("left").alias("jt"), "user_id", F.col("m").alias("ts_m"),
        "n_click", F.coalesce("n_view", F.lit(0)).alias("n_view"),
    )
    return inner.unionByName(full).unionByName(left)


@q(
    "horizontal_concat",
    f"""
    SELECT user_id, epoch_us(ts) // {US_1H} * {US_1H} AS h,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'error') AS n_error,
           count(*) FILTER (event_type = 'signup') AS n_signup
    FROM events GROUP BY 1, 2
    """,
)
def horizontal_concat(spark, sf_dir):
    """HorizontallyConcatOperator: one aligned wide row per (series, hour) —
    conditional aggregation, no join needed."""
    ev = _events(spark, sf_dir)
    h = F.expr(f"(ts_us div {US_1H}) * {US_1H}")
    out = ev.groupBy("user_id", h.alias("h"))
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "error", "signup"]
    ]
    return out.agg(*aggs)


# -- accumulator suite / transforms / sorts ------------------------------------


@q(
    "aggregates_suite",
    f"""
    WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS t, {Q} AS q FROM events)
    SELECT user_id,
           count(*) AS cnt,
           count(*) FILTER (q > 50000000) AS cnt_if,
           count(DISTINCT t) AS count_time,
           CAST(sum(q) AS BIGINT) AS sum_q,
           min(q) AS min_q, max(q) AS max_q,
           first(q ORDER BY t, event_id) AS first_q,
           first(q ORDER BY t DESC, event_id DESC) AS last_q,
           first(q ORDER BY abs(q) DESC, q DESC, event_id) AS extreme_q,
           max(t) - min(t) AS time_duration,
           round(stddev_samp(q), 2) AS sd,
           round(avg(q), 2) AS avg_q
    FROM b GROUP BY 1
    """,
)
def aggregates_suite(spark, sf_dir):
    """The IoTDB accumulator set (reference execution/aggregation/*):
    count, count_if, count_time, sum, min/max, first/last by time,
    extreme (max by |v|, ties → larger value), time_duration, stddev, avg."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("cnt"),
        F.count(F.when(F.col("q") > 50_000_000, 1)).alias("cnt_if"),
        F.countDistinct("ts_us").alias("count_time"),
        F.sum("q").alias("sum_q"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
        F.min_by("q", F.struct("ts_us", "event_id")).alias("first_q"),
        F.max_by("q", F.struct("ts_us", "event_id")).alias("last_q"),
        F.max_by("q", F.struct(F.abs("q"), "q", (-F.col("event_id")))).alias("extreme_q"),
        (F.max("ts_us") - F.min("ts_us")).alias("time_duration"),
        F.round(F.stddev_samp("q"), 2).alias("sd"),
        F.round(F.avg("q"), 2).alias("avg_q"),
    )


@q(
    "transform_filter_project",
    f"""
    SELECT event_id, user_id,
           round(value * 1.1 + 5, 4) AS adj,
           upper(event_type) AS etype,
           epoch_us(ts) % 86400000000 AS us_of_day
    FROM events
    WHERE value > 100 AND event_type IN ('click', 'purchase')
    """,
)
def transform_filter_project(spark, sf_dir):
    """FilterAndProjectOperator + TransformOperator: arithmetic/string/time
    expressions, predicate pushed to the parquet scan."""
    ev = _events(spark, sf_dir)
    return (
        ev.filter((F.col("value") > 100) & F.col("event_type").isin("click", "purchase"))
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 1.1 + 5, 4).alias("adj"),
            F.upper("event_type").alias("etype"),
            (F.col("ts_us") % 86_400_000_000).alias("us_of_day"),
        )
    )


@q(
    "topk_per_series",
    """
    SELECT user_id, event_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
    FROM events
    QUALIFY rn <= 3
    """,
)
def topk_per_series(spark, sf_dir):
    """TopKOperator per series: window + row_number ≤ K."""
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    )


@q(
    "sort_limit_offset",
    """
    SELECT event_id, user_id, value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 100 OFFSET 10
    """,
)
def sort_limit_offset(spark, sf_dir):
    """SortOperator + OffsetOperator + LimitOperator (Spark TakeOrdered)."""
    ev = _events(spark, sf_dir)
    return (
        ev.orderBy(F.col("value").desc(), "event_id")
        .select("event_id", "user_id", "value")
        .offset(10)
        .limit(100)
    )


@q(
    "group_by_rollup_levels",
    f"""
    SELECT coalesce(event_type, 'ALL') AS level_key, count(*) AS cnt,
           CAST(sum({Q}) AS BIGINT) AS sum_q
    FROM events GROUP BY ROLLUP (event_type)
    """,
)
def group_by_rollup_levels(spark, sf_dir):
    """GROUP BY LEVEL (path-hierarchy rollup): grouping-sets rollup over the
    series hierarchy (reference TagAggregationOperator / GROUP BY LEVEL)."""
    ev = _events(spark, sf_dir)
    return ev.rollup("event_type").agg(
        F.count("*").alias("cnt"), F.sum("q").alias("sum_q")
    ).select(
        F.coalesce("event_type", F.lit("ALL")).alias("level_key"), "cnt", "sum_q"
    )


@q(
    "group_by_levels_multi",
    f"""
    WITH b AS (SELECT event_type AS l1, CAST(user_id % 10 AS VARCHAR) AS l2,
                      {Q} AS q FROM events)
    SELECT coalesce(l1, 'ALL') AS level1, coalesce(l2, 'ALL') AS level2,
           count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q
    FROM b GROUP BY ROLLUP (l1, l2)
    """,
)
def group_by_levels_multi(spark, sf_dir):
    """Multi-level GROUP BY LEVEL: aggregate the series path hierarchy
    root.<event_type>.<user_id%10> at EVERY prefix level in one pass —
    Spark's rollup() grouping sets are the reference
    TagAggregationOperator's arbitrary-level aggregation (it re-aggregates
    per requested level; grouping sets share one shuffle for all levels)."""
    ev = _events(spark, sf_dir)
    b = ev.select(
        F.col("event_type").alias("l1"),
        F.pmod(F.col("user_id"), F.lit(10)).cast("string").alias("l2"),
        "q",
    )
    return b.rollup("l1", "l2").agg(
        F.count("*").alias("cnt"), F.sum("q").alias("sum_q")
    ).select(
        F.coalesce("l1", F.lit("ALL")).alias("level1"),
        F.coalesce("l2", F.lit("ALL")).alias("level2"),
        "cnt",
        "sum_q",
    )


@q(
    "ttl_filter",
    """
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events)
    SELECT user_id, count(*) AS cnt_kept, min(epoch_us(ts)) AS oldest
    FROM events, mx
    WHERE epoch_us(ts) >= mx.m - 7 * 86400000000
    GROUP BY 1
    """,
)
def ttl_filter(spark, sf_dir):
    """Write-path TTL check (reference DataRegion.isAlive): keep only rows
    younger than now-ttl; 'now' = max event time."""
    ev = _events(spark, sf_dir)
    mx = ev.agg(F.max("ts_us").alias("m"))
    return (
        ev.join(F.broadcast(mx))
        .filter(F.col("ts_us") >= F.col("m") - 7 * 86_400_000_000)
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt_kept"), F.min("ts_us").alias("oldest"))
    )


# -- training-data pipeline ops (documents / embeddings) ----------------------

from .operators import dedup as DD  # noqa: E402
from .operators import multimodal as MM  # noqa: E402
from .operators import similarity as SIM  # noqa: E402
from .operators import curation as CUR  # noqa: E402
from .operators import textstats as TXT  # noqa: E402

_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"


def _simhash_fp_cte() -> str:
    """DuckDB CTE chain computing the exact SimHash fingerprints the Spark
    operator produces: portable md5 word hashes (hi/lo 32-bit halves) →
    per-bit ±1 sums → sign bits assembled into one signed 64-bit value."""
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (({'hi' if b >= 32 else 'lo'} >> {b % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    terms = [
        f"CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(63)
    ]
    terms.append("CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END")
    fp = "\n               + ".join(terms)
    return f"""
    w AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS wd FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(wd), 1, 8) AS BIGINT) AS hi,
             CAST('0x' || substr(md5(wd), 9, 8) AS BIGINT) AS lo
      FROM w
    ),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM h GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             {fp} AS simhash
      FROM bits
    )"""


def _minhash_lsh_oracle(num_perm: int = 32, bands: int = 8,
                        max_bucket: int = 200) -> str:
    """DuckDB twin of ``DD.minhash_lsh_candidates``: same md5-derived base
    hash, same (a_i, b_i) permutation constants (shared Python source),
    band buckets keyed by the r-tuple of components (Spark keys by
    xxhash64 of the same tuple — identical equivalence classes)."""
    r = num_perm // bands
    p = DD.MINHASH_P
    mins = ",\n             ".join(
        f"min(({a} * x + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(DD.minhash_perm_constants(num_perm))
    )
    arms = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws('|', "
        + ", ".join(f"mh{bi * r + j}" for j in range(r))
        + ") AS key FROM sig"
        for bi in range(bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(num_perm)
    )
    return f"""
    WITH wdoc AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
      FROM wdoc
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    hx AS (
      SELECT doc_id, CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) % {p} AS x
      FROM ex
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hx GROUP BY doc_id
    ),
    bb AS (
      {arms}
    ),
    sized AS (SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz FROM bb),
    ok AS (SELECT doc_id, band, key FROM sized WHERE bsz >= 2 AND bsz <= {max_bucket}),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM ok l JOIN ok r ON l.band = r.band AND l.key = r.key
                         AND l.doc_id < r.doc_id
    )
    SELECT a, b, round(({match_sum}) / {num_perm}.0, 6) AS est_jaccard
    FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
    """


@q(
    "dedup_exact",
    f"""
    SELECT min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY {_NORM_SQL}
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: normalized-text hash groupBy, keep smallest id."""
    return DD.exact_dedup(_documents(spark, sf_dir))


@q(
    "dedup_incremental",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000, '  ' || text || ' ' FROM documents
      WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
    ),
    bg AS (
      SELECT {_NORM_SQL} AS t, min(doc_id) AS keep_id, count(*) AS n_dups
      FROM batch GROUP BY 1
    )
    SELECT keep_id, n_dups FROM bg
    WHERE t NOT IN (SELECT {_NORM_SQL} FROM corpus)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Ingest-batch dedup against the landed corpus (the steady-state 100 TB
    pattern: never re-dedup the corpus per batch). The test corpus has no
    exact dup groups, so the batch is constructed to exercise every path:
    fresh docs (doc_id % 5 = 0), whitespace-noised copies of corpus docs
    (% 10 = 1 — normalize-equal, must be dropped), and intra-batch
    duplicates (% 15 = 0 re-ids — must collapse to the smaller batch id).
    Corpus is scanned once map-only (batch keys broadcast); see
    operators/dedup.incremental_dedup."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 1).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat(F.lit("  "), F.col("text"), F.lit(" ")).alias("text"),
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 3 == 0))
            .select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
        )
    )
    return DD.incremental_dedup(batch, corpus)


@q(
    "dedup_substring_stats",
    f"""
    WITH w AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                    ws[i+3] || ' ' || ws[i+4])) AS gram
      FROM w
    ),
    cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram)
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           round(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS dup_frac
    FROM g JOIN cnt c USING (gram)
    GROUP BY doc_id
    """,
)
def dedup_substring_stats(spark, sf_dir):
    """Exact substring-duplication signal (cross-document, intra-corpus):
    per doc, the fraction of its word-5-gram positions whose 5-gram occurs
    more than once in the corpus — the repeated-substring measure used to
    strip boilerplate before training. Position multiplicity is preserved
    (unlike the distinct shingles of the Jaccard family); grams hash to 64
    bits map-side so both exchanges carry fixed-width rows. The oracle
    recomputes corpus frequencies on the exact gram strings, so a hash
    collision in the engine would fail the gate."""
    return DD.substring_dup_stats(_documents(spark, sf_dir), n=5)


def _jaccard_pair_ctes() -> str:
    """CTE chain ending in ``jpairs(a, b, jaccard)`` — exact word-3-gram
    Jaccard near-dup pairs at tau=0.2 with the max_df=50 hot-shingle cap,
    the SQL twin of ``DD.jaccard_pairs``. Shared by the pair oracle and
    the dup-group resolution oracle."""
    return f"""
    w AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
      FROM w
    ),
    ex AS (SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS s FROM sh),
    hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > 50),
    exf AS (SELECT * FROM ex WHERE s NOT IN (SELECT s FROM hot)),
    jp AS (
      SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sza, y.sz AS szb, count(*) AS inter
      FROM exf x JOIN exf y ON x.s = y.s AND x.doc_id < y.doc_id
      GROUP BY 1, 2, 3, 4
    ),
    jpairs AS (
      SELECT a, b, inter * 1.0 / (sza + szb - inter) AS jaccard
      FROM jp WHERE inter * 1.0 / (sza + szb - inter) >= 0.2
    )"""


@q(
    "dedup_jaccard_3gram",
    f"""
    WITH {_jaccard_pair_ctes()}
    SELECT a, b, round(jaccard, 6) AS jaccard FROM jpairs
    """,
)
def dedup_jaccard_3gram(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (word 3-grams, τ=0.2):
    shingle-explode self-join, no UDFs. max_df=50 caps hot-shingle fan-out
    (a shingle shared by >50 docs carries no near-dup signal and makes the
    self-join quadratic); union sizes stay exact — only the intersection
    counting skips hot shingles, mirrored exactly in the oracle."""
    out = DD.jaccard_pairs(_documents(spark, sf_dir), n=3, tau=0.2, max_df=50)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


@q(
    "dedup_groups_keep",
    f"""
    WITH RECURSIVE {_jaccard_pair_ctes()},
    edges AS (
      SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs
    ),
    reach(v, r) AS (
      SELECT a, b FROM edges
      UNION
      SELECT reach.v, e.b FROM reach JOIN edges e ON reach.r = e.a
    ),
    grp AS (SELECT v AS doc_id, least(v, min(r)) AS group_id FROM reach GROUP BY v)
    SELECT d.doc_id,
           coalesce(g.group_id, d.doc_id) AS group_id,
           (g.group_id IS NULL OR g.group_id = d.doc_id) AS keep
    FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id
    """,
)
def dedup_groups_keep(spark, sf_dir):
    """Dup-GROUP resolution end-to-end: exact Jaccard near-dup pairs →
    connected components (alternating star-contraction, O(log n) rounds of
    fixed-width self-joins — operators/dedup.py:dup_groups) → one keep per
    component. Output: every document with its component id (= smallest
    doc_id reachable through near-dup edges; singletons are their own
    group) and the keep flag a training pipeline filters by. The DuckDB
    oracle recomputes the components independently via a recursive-CTE
    transitive closure, so the distributed contraction must converge to
    the exact same partition of the corpus."""
    docs = _documents(spark, sf_dir)
    pairs = DD.jaccard_pairs(docs, n=3, tau=0.2, max_df=50)
    return DD.dedup_keep_list(docs, pairs)


@q("dedup_minhash_lsh", _minhash_lsh_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 perms) + LSH(8 bands) candidate pairs with estimated
    Jaccard — the linear-time scale path for near-dup at 10^12 docs.
    Deterministic AND exactly oracled: signatures are md5-derived
    2-universal permutations both engines compute identically (the r4
    xxhash64 permutations had no DuckDB twin). Quality oracle (recall vs
    exact Jaccard) stays in tests/test_training_ops.py."""
    out = DD.minhash_lsh_candidates(_documents(spark, sf_dir), num_perm=32, bands=8)
    return out.select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard"))


@q(
    "dedup_simhash",
    f"""
    WITH {_simhash_fp_cte()}
    SELECT doc_id, simhash FROM fp
    """,
)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints (sign-aggregated portable md5 word
    hashes — exactly recomputed by the DuckDB oracle)."""
    return DD.simhash(_documents(spark, sf_dir))


@q(
    "dedup_simhash_pairs",
    f"""
    WITH {_simhash_fp_cte()},
    bands AS (
      SELECT doc_id, simhash, band,
             (simhash >> (16 * band)) & 65535 AS key
      FROM fp, (SELECT unnest([0, 1, 2, 3]) AS band) t
    ),
    sized AS (SELECT *, count(*) OVER (PARTITION BY band, key) AS bsz FROM bands),
    ok AS (SELECT * FROM sized WHERE bsz >= 2 AND bsz <= 200),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
             l.simhash AS fa, r.simhash AS fb
      FROM ok l JOIN ok r ON l.band = r.band AND l.key = r.key
                         AND l.doc_id < r.doc_id
    )
    SELECT a, b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(fa, fb)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS: 4×16-bit band equi-join (pigeonhole-complete
    for hamming ≤ 3) + popcount verify. Recall oracle vs brute-force
    hamming in tests/test_training_ops.py."""
    return DD.simhash_pairs(_documents(spark, sf_dir), max_hamming=3)


@q(
    "multimodal_frame_sample",
    """
    WITH p AS (SELECT doc_id, encode(text) AS b FROM documents)
    SELECT doc_id,
           unnest(generate_series(0, octet_length(b)//16 - 1, 3)) AS frame_idx
    FROM p
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling over the binary payload (video keyframe shape):
    every 3rd complete 16-byte frame as its own row — Arrow-buffer offset
    arithmetic + one gather, zero per-row Python. Byte-exactness oracle in
    tests/test_training_ops.py; the SQL oracle checks the sampled frame
    index set."""
    out = MM.frame_sample(
        MM.to_binary_payload(_documents(spark, sf_dir)), frame_bytes=16, every_k=3
    )
    return out.select("doc_id", "frame_idx")


@q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_inner_product(q.qe::DOUBLE[], e.embedding::DOUBLE[]) /
               (sqrt(list_inner_product(q.qe::DOUBLE[], q.qe::DOUBLE[])) *
                sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS score
      FROM q, embeddings e WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
    FROM scored QUALIFY rank <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 vectors: broadcast query
    matrix, one matmul per Arrow batch, global top-k. Rank output (scores
    are float-order-sensitive; ranks are stable)."""
    return SIM.brute_force_topk(_embeddings(spark, sf_dir), n_queries=10, k=5)


@q(
    "dedup_embedding_cosine",
    """
    WITH n AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM n
    )
    SELECT a.vec_id AS a, b.vec_id AS b
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.35
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.35 — sized to the
    synthetic corpus' random-cosine tail, max pairwise cos ≈ 0.51),
    integer-only output so the oracle hash is float-free. Runs the
    distributed block-pair EXACT verifier (no driver collect, no corpus
    broadcast — see operators/similarity.py:cosine_dup_pairs);
    `cosine_dup_pairs_lsh` is the candidate-first path for corpora where
    quadratic verify is off the table (recall pytest in
    tests/test_training_ops.py)."""
    from .operators.similarity import cosine_dup_pairs

    return cosine_dup_pairs(_embeddings(spark, sf_dir), tau=0.35)


@q(
    "dedup_cosine_incremental",
    """
    WITH n AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, e, sqrt(list_inner_product(e, e)) AS nrm FROM n
    ), b AS (SELECT * FROM s WHERE vec_id % 5 = 0),
    c AS (SELECT * FROM s WHERE vec_id % 5 != 0)
    SELECT b.vec_id FROM b
    WHERE NOT EXISTS (
      SELECT 1 FROM c
      WHERE list_inner_product(b.e, c.e) / (b.nrm * c.nrm) >= 0.35
    )
    """,
)
def dedup_cosine_incremental(spark, sf_dir):
    """Incremental embedding dedup: new-batch vectors (vec_id % 5 = 0)
    that survive near-dup filtering against the landed corpus (the rest)
    at cos >= 0.35 — the ingest-time twin of `dedup_embedding_cosine`,
    matching the text-side `dedup_incremental`. The batch matrix is
    broadcast; the corpus is scanned ONCE map-only (one corpus-block x
    batch matmul per Arrow batch, only matched ids ever shuffle) — see
    operators/similarity.py:incremental_cosine_dedup. Integer-only
    output keeps the gate hash float-free."""
    from .operators.similarity import incremental_cosine_dedup

    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    return incremental_cosine_dedup(
        emb.filter(F.col("vec_id") % 5 == 0),
        emb.filter(F.col("vec_id") % 5 != 0),
        tau=0.35,
    )


@q("dedup_lsh_candidates")  # hard oracle attached at end of module
def dedup_lsh_candidates(spark, sf_dir):
    """Candidate (a < b) pairs from the multi-table sign-LSH bucketing
    stage of the candidate-first embedding dedup path
    (operators/similarity.py:lsh_candidate_pairs, the linear-candidate
    front of `cosine_dup_pairs_lsh` — the 100 TB path where exact O(n²)
    verify is off the table). Hard-oracled: the 8×8 hyperplane bank is
    splitmix64-counter Box–Muller draws (pure function of (dim, bits,
    seed)), so the DuckDB oracle regenerates the planes, rebuilds every
    (table, bucket) cell, applies the same bucket-cap hub suppression, and
    re-derives the exact candidate set; recall-vs-planted-near-dups pytest
    in tests/test_training_ops.py."""
    from .operators.similarity import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _embeddings(spark, sf_dir).select("vec_id", "embedding"))


@q("ann_lsh_topk")  # hard oracle attached at end of module (needs splitmix SQL)
def ann_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH bucketing + exact rerank within the probed
    buckets — the approximate scale path. Hard-oracled: the hyperplanes are
    splitmix64-counter Box–Muller draws (a pure function of (dim, n_bits,
    seed)), so the DuckDB oracle regenerates them bit-for-bit-close in SQL,
    rebuilds every bucket, and replays the hamming≤2 multi-probe + exact
    cosine rerank; recall-vs-brute-force pytest in
    tests/test_training_ops.py."""
    return SIM.lsh_topk(_embeddings(spark, sf_dir), n_queries=10, k=5, n_bits=6, probe_radius=2)


@q("ann_ivf_topk")  # hard oracle attached at end of module
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer (portable-md5-sampled seeds
    + one distributed Lloyd step) → inverted lists → nprobe cluster
    equi-join → exact cosine rerank. Hard-oracled: the quantizer is a pure
    function of the corpus, so the DuckDB oracle re-derives seeds,
    replays the Lloyd step, rebuilds the inverted lists, and reranks;
    recall + determinism pytest in tests/test_training_ops.py."""
    return SIM.ivf_topk(_embeddings(spark, sf_dir), n_queries=10, k=5,
                        n_centroids=16, nprobe=4)


@q(
    "text_token_count",
    f"""
    SELECT doc_id,
           len(string_split({_NORM_SQL}, ' ')) AS n_words,
           CAST(floor(length(trim(text)) / 4) AS BIGINT) AS n_bpe_est,
           n_chars
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting: whitespace words + chars/4 BPE-unit estimate."""
    return TXT.token_count(_documents(spark, sf_dir))


@q(
    "text_quality",
    f"""
    WITH b AS (
      SELECT doc_id, text, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    )
    SELECT doc_id,
           round(0.4 * least(len(ws) / 100.0, 1.0)
               + 0.3 * (len(list_distinct(ws)) * 1.0 / len(ws))
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) * 1.0 / length(text)),
             6) AS quality
    FROM b
    """,
)
def text_quality(spark, sf_dir):
    """Quality score: length saturation + vocab diversity + alnum density."""
    return TXT.quality_score(_documents(spark, sf_dir))


@q(
    "text_language_id",
    f"""
    WITH b AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
    h AS (
      SELECT doc_id,
             len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','it'))) AS en_hits,
             len(list_filter(ws, w -> w IN ('el','la','de','y','que','en','un','es'))) AS es_hits
      FROM b
    )
    SELECT doc_id,
           CASE WHEN en_hits >= 2 AND en_hits >= es_hits THEN 'en'
                WHEN es_hits >= 2 AND es_hits > en_hits THEN 'es'
                ELSE 'unk' END AS pred_lang,
           en_hits
    FROM h
    """,
)
def text_language_id(spark, sf_dir):
    """Language ID via stopword-hit argmax."""
    return TXT.language_id(_documents(spark, sf_dir))


@q(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split({_NORM_SQL}, ' '),
                              w -> CAST(length(w) * 131 + coalesce(ascii(w[1]), 0) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 1000000007) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Rolling polynomial hash over the word stream (order-sensitive
    content fingerprint)."""
    return TXT.fingerprint(_documents(spark, sf_dir))


@q(
    "text_repetition",
    f"""
    WITH b AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ),
    wc AS (
      SELECT doc_id, max(c) AS maxw, CAST(sum(c) AS BIGINT) AS nw
      FROM (SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS w FROM b)
            GROUP BY doc_id, w)
      GROUP BY doc_id
    ),
    gc AS (
      SELECT doc_id, max(c) AS maxg, CAST(sum(c) AS BIGINT) AS ng
      FROM (SELECT doc_id, g, count(*) AS c
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(ws)),
                                               i -> ws[i] || ' ' || ws[i + 1])) AS g
                  FROM b WHERE len(ws) >= 2)
            GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT b.doc_id,
           wc.nw AS n_words,
           round(wc.maxw * 1.0 / wc.nw, 6) AS top_word_frac,
           coalesce(round(gc.maxg * 1.0 / gc.ng, 6), 0.0) AS top_bigram_frac,
           (round(wc.maxw * 1.0 / wc.nw, 6) > 0.20
            OR coalesce(round(gc.maxg * 1.0 / gc.ng, 6), 0.0) > 0.18) AS flagged
    FROM b JOIN wc USING (doc_id) LEFT JOIN gc USING (doc_id)
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals: top-word / top-bigram occurrence
    fractions + duplication flag.  The Spark plan is row-local (one HOF fold
    per doc, zero exchanges — plan-asserted); the oracle is free to use the
    shuffling unnest+GROUP BY formulation DuckDB optimizes for."""
    return TXT.repetition_stats(_documents(spark, sf_dir))


def _pii_oracle_sql() -> str:
    t = "text"
    counts = []
    for name, pat in TXT.PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({t}, '{pat}')) AS n_{name}"
        )
        t = f"regexp_replace({t}, '{pat}', '<{name.upper()}>', 'g')"
    return (
        "SELECT doc_id, "
        + ", ".join(counts)
        + f", md5({t}) AS clean_md5 FROM documents"
    )


@q("pii_scrub", _pii_oracle_sql())
def pii_scrub(spark, sf_dir):
    """PII redaction: per-class match counts (email/IPv4/phone, counted on
    the progressively-scrubbed text so spans count once) + md5 of the
    scrubbed text.  Patterns restricted to Java-regex/RE2-common syntax so
    both engines match identically; map-only, zero shuffle."""
    return TXT.pii_scrub(_documents(spark, sf_dir))


# -- corpus-curation stages (decontaminate / sample / quality-filter) --------
# The "benchmark" (eval-suite) set is carved deterministically out of the
# corpus itself: doc_id % 20 = 7 — at real scale this would be the actual
# held-out eval suites, always broadcast-small.

_SAMPLE_RATES = {"src0": 0.8, "src1": 0.5, "src2": 0.25}
_SAMPLE_DEFAULT = 0.1
_SAMPLE_KEY_SQL = (
    "CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
)


def _sample_threshold_case_sql(col: str = "source") -> str:
    arms = " ".join(
        f"WHEN {col} = '{s}' THEN {min(int(r * 2**32), 2**32)}"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"CASE {arms} ELSE {min(int(_SAMPLE_DEFAULT * 2**32), 2**32)} END"


_QUALITY_SQL = """round(0.4 * least(len(ws) / 100.0, 1.0)
               + 0.3 * (len(list_distinct(ws)) * 1.0 / len(ws))
               + 0.3 * (length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) * 1.0 / length(text)),
             6)"""


@q(
    "decontaminate_ngram",
    f"""
    WITH w AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM w
    ),
    bg AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 7),
    corp AS (SELECT doc_id, len(s) AS sz, s FROM sh WHERE doc_id % 20 != 7),
    ex AS (SELECT doc_id, unnest(s) AS g FROM corp),
    hits AS (
      SELECT doc_id, count(*) AS n_hit FROM ex
      WHERE g IN (SELECT g FROM bg) GROUP BY doc_id
    )
    SELECT c.doc_id, c.sz AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) * 1.0 / greatest(c.sz, 1), 6) AS contamination,
           round(coalesce(h.n_hit, 0) * 1.0 / greatest(c.sz, 1), 6) >= 0.1 AS contaminated
    FROM corp c LEFT JOIN hits h USING (doc_id)
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination (C4/CCNet-style): per corpus doc, the
    fraction of its word 3-gram shingles that appear in the eval-suite
    set; flag ≥ 10%. The benchmark grams are broadcast (eval suites are
    MBs at any corpus scale) so the corpus text never shuffles — the only
    exchange is one pre-reduced (doc_id, hit_count) row per document."""
    docs = _documents(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 20 == 7)
    return CUR.decontaminate(docs, benchmark, n=3, tau=0.1)


@q(
    "sample_stratified",
    f"""
    SELECT doc_id, source AS stratum, {_SAMPLE_KEY_SQL} AS skey
    FROM documents
    WHERE {_SAMPLE_KEY_SQL} < {{case}}
    """.replace("{case}", _sample_threshold_case_sql()),
)
def sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling / source mixing: per-source keep
    rates applied via an md5-derived 32-bit key — a pure function of
    doc_id, so retries, re-runs, and incremental appends sample
    consistently. Map-side only: zero shuffle, zero driver state."""
    return CUR.stratified_sample(
        _documents(spark, sf_dir), _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT
    )


@q(
    "quality_filter_topp",
    f"""
    WITH b AS (
      SELECT doc_id, source, text, string_split({_NORM_SQL}, ' ') AS ws FROM documents
    ),
    scored AS (
      SELECT doc_id, source AS stratum, {_QUALITY_SQL} AS quality FROM b
    ),
    hist AS (SELECT stratum, quality, count(*) AS cnt FROM scored GROUP BY 1, 2),
    lv AS (
      SELECT stratum, quality, cnt,
             sum(cnt) OVER (PARTITION BY stratum ORDER BY quality DESC) AS cum,
             (sum(cnt) OVER (PARTITION BY stratum) * 40 + 99) // 100 AS k
      FROM hist
    ),
    admit AS (
      SELECT stratum, quality, cnt,
             greatest(0, least(cnt, k - (cum - cnt))) AS n_admit
      FROM lv WHERE greatest(0, least(cnt, k - (cum - cnt))) > 0
    ),
    j AS (
      SELECT s.doc_id, s.stratum, s.quality, a.n_admit, a.cnt,
             row_number() OVER (PARTITION BY s.stratum, s.quality ORDER BY s.doc_id) AS rn
      FROM scored s JOIN admit a USING (stratum, quality)
    )
    SELECT doc_id, stratum, quality FROM j WHERE n_admit = cnt OR rn <= n_admit
    """,
)
def quality_filter_topp(spark, sf_dir):
    """Exact per-source top-40% quality filter WITHOUT a corpus-wide
    per-source sort: the 6-dp-quantized quality makes the per-source
    (quality → count) histogram small, the cutoff comes from its running
    sum, docs are kept via a broadcast threshold join, and only the one
    boundary quality level pays a row_number (deterministic smallest-
    doc_id tie-break). K = ceil(40% · n) in exact integer arithmetic."""
    return CUR.quality_topp_filter(
        _documents(spark, sf_dir), TXT.quality_expr(), keep_percent=40
    )


@q(
    "curation_pipeline",
    f"""
    WITH b AS (
      SELECT doc_id, source, text, string_split({_NORM_SQL}, ' ') AS ws
      FROM documents WHERE doc_id % 20 != 7
    ),
    scored AS (
      SELECT doc_id, source AS stratum, {_QUALITY_SQL} AS quality FROM b
    ),
    hist AS (SELECT stratum, quality, count(*) AS cnt FROM scored GROUP BY 1, 2),
    lv AS (
      SELECT stratum, quality, cnt,
             sum(cnt) OVER (PARTITION BY stratum ORDER BY quality DESC) AS cum,
             (sum(cnt) OVER (PARTITION BY stratum) * 40 + 99) // 100 AS k
      FROM hist
    ),
    admit AS (
      SELECT stratum, quality, cnt,
             greatest(0, least(cnt, k - (cum - cnt))) AS n_admit
      FROM lv WHERE greatest(0, least(cnt, k - (cum - cnt))) > 0
    ),
    j AS (
      SELECT s.doc_id, s.stratum, s.quality, a.n_admit, a.cnt,
             row_number() OVER (PARTITION BY s.stratum, s.quality ORDER BY s.doc_id) AS rn
      FROM scored s JOIN admit a USING (stratum, quality)
    ),
    qkeep AS (SELECT doc_id, stratum, quality FROM j WHERE n_admit = cnt OR rn <= n_admit),
    dd AS (
      SELECT min(d.doc_id) AS doc_id
      FROM documents d JOIN qkeep USING (doc_id)
      GROUP BY {_NORM_SQL.replace('text', 'd.text')}
    ),
    wdoc AS (
      SELECT d.doc_id, string_split({_NORM_SQL.replace('text', 'd.text')}, ' ') AS ws
      FROM documents d JOIN dd USING (doc_id)
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      FROM wdoc
    ),
    bw AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
      FROM documents WHERE doc_id % 20 = 7
    ),
    bg AS (
      SELECT DISTINCT unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      FROM bw
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    hits AS (
      SELECT doc_id, count(*) AS n_hit FROM ex
      WHERE g IN (SELECT g FROM bg) GROUP BY doc_id
    ),
    clean AS (
      SELECT s2.doc_id FROM sh s2 LEFT JOIN hits h USING (doc_id)
      WHERE round(coalesce(h.n_hit, 0) * 1.0 / greatest(len(s2.s), 1), 6) < 0.1
    )
    SELECT q.doc_id, q.stratum, q.quality, {_SAMPLE_KEY_SQL} AS skey
    FROM qkeep q JOIN clean USING (doc_id)
    WHERE {_SAMPLE_KEY_SQL} < {{case}}
    """.replace("{case}", _sample_threshold_case_sql("stratum")),
)
def curation_pipeline(spark, sf_dir):
    """Fused corpus-curation pipeline (published recipe order): per-source
    quality top-40% -> exact dedup among survivors -> benchmark
    decontamination (3-gram overlap vs the doc_id%20==7 eval slice, tau
    0.1) -> deterministic stratified sample. Stage composition is pure
    keep-list joins on the fixed-width id key — document text never
    crosses an exchange; each stage sees exactly the corpus the previous
    stage emitted."""
    all_docs = _documents(spark, sf_dir)
    corpus = all_docs.filter(F.col("doc_id") % 20 != 7)
    benchmark = all_docs.filter(F.col("doc_id") % 20 == 7)
    return CUR.curate(
        corpus,
        benchmark,
        TXT.quality_expr(),
        _SAMPLE_RATES,
        default_rate=_SAMPLE_DEFAULT,
        keep_percent=40,
        n=3,
        tau=0.1,
    )


@q(
    "multimodal_binary_stats",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           ascii(text[1]) AS first_byte,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, octet_length(encode(text)) + 1),
                               i -> CAST(ascii(text[i]) AS BIGINT))), (a, x) -> a + x)
                % 1000000007 AS BIGINT) AS byte_checksum
    FROM documents
    """,
)
def multimodal_binary_stats(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column + Arrow-buffer
    feature kernel (byte stats as the deterministic stand-in for media
    decode; the real decode is stubbed per environment constraints)."""
    payload = MM.to_binary_payload(_documents(spark, sf_dir))
    return MM.binary_stats(payload)


# -- the flagship tokens pipeline (deterministic synthetic input) -----------
# The synth corpus is counter-based splitmix64 — pure integer arithmetic —
# so the DuckDB gate can REGENERATE it exactly: the oracle SQL below
# implements splitmix64 via HUGEINT mod-2^64 arithmetic (64×64-bit multiply
# split into 32-bit limbs so no intermediate exceeds 2^127) and re-derives
# every token and synthetic timestamp from first principles. The pipeline
# queries therefore get exact value oracles — including the compression-
# metrics rollup, whose oracle recomputes the encoded plane sizes in closed
# form from the codec's class widths. Byte-level encode/decode equality
# additionally lives in tests/test_pipeline_e2e.py.

from .operators.ingest import flush as _flush  # noqa: E402
from .sources.synth import generate_tokens_df as _gen_tokens  # noqa: E402

WINDOW_1S_US = 1_000_000


def _sf_of(sf_dir: str) -> float:
    import re as _re

    m = _re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


_TOKENS_DOCS_CACHE: dict[str, int] = {}


def _tokens_docs(sf_dir: str) -> int:
    """Synthetic-corpus doc count for the tokens-family queries, derived
    from the events table's rowcount (docs = max(200, |events| // 20)) —
    the SAME derivation every tokens-family oracle does in SQL
    (_tokens_points_cte), so engine and oracle agree on ANY dataset dir.
    The old sf-regex form (max(200, 50000·sf)) silently defaulted to
    sf=0.01 on dirs with no parseable sf — the 10× rehearsal ran the
    tokens family on 1/10 of the sf0.1 input while every parquet-backed
    query grew 10×. Metadata-only rowcount; cached per dir."""
    if sf_dir not in _TOKENS_DOCS_CACHE:
        try:
            import pyarrow.parquet as pq

            p = f"{sf_dir}/events.parquet"
            if os.path.isfile(p):
                files = [p]
            else:
                # recursive walk: a partitioned/nested events.parquet dir
                # has no top-level *.parquet files, and summing zero of
                # them would silently shrink the corpus to the 200-doc
                # floor (diverging from the oracle's count(*) derivation)
                files = [
                    os.path.join(dp, f)
                    for dp, _, fs in os.walk(p)
                    for f in fs
                    if f.endswith(".parquet")
                ]
            n_events = sum(pq.read_metadata(f).num_rows for f in files)
            if not files:
                raise OSError(f"no parquet files under {p}")
            _TOKENS_DOCS_CACHE[sf_dir] = max(200, n_events // 20)
        except Exception:  # noqa: BLE001 — pyarrow raises ArrowInvalid (not
            # OSError) on a corrupt footer; any metadata failure falls back
            # to the sf-derived count rather than a confusing gate mismatch
            _TOKENS_DOCS_CACHE[sf_dir] = max(200, int(50_000 * _sf_of(sf_dir)))
    return _TOKENS_DOCS_CACHE[sf_dir]


# --- splitmix64 / hash2 as DuckDB SQL (exact twin of functions.hashing) -----
_SM_M64 = 1 << 64
_SM_K0 = 0x9E3779B97F4A7C15
_SM_K1 = 0xBF58476D1CE4E5B9
_SM_K2 = 0x94D049BB133111EB


def _sm_mulmod(y: str, c: int) -> str:
    """(y * c) mod 2^64 with 32-bit limbs: every intermediate < 2^65, well
    inside HUGEINT; y must be a named column (referenced 3×)."""
    ch, cl = c >> 32, c & 0xFFFFFFFF
    return (f"((({y}) % 4294967296) * {cl} + (((({y}) % 4294967296) * {ch} + "
            f"(({y}) // 4294967296) * {cl}) % 4294967296) * 4294967296) % {_SM_M64}")


def _sm_stages(src: str, pfx: str, final: str) -> list[tuple[str, str]]:
    """[(col, expr)] chain computing ``final = splitmix64(src)`` — exact
    twin of functions/hashing.py:splitmix64 — as a HUGEINT in [0, 2^64)."""
    return [
        (f"{pfx}z0", f"(({src}) + {_SM_K0}) % {_SM_M64}"),
        (f"{pfx}a1", f"xor({pfx}z0, {pfx}z0 >> 30)"),
        (f"{pfx}z1", _sm_mulmod(f"{pfx}a1", _SM_K1)),
        (f"{pfx}a2", f"xor({pfx}z1, {pfx}z1 >> 27)"),
        (f"{pfx}z2", _sm_mulmod(f"{pfx}a2", _SM_K2)),
        (final, f"xor({pfx}z2, {pfx}z2 >> 31)"),
    ]


def _hash2_stages(a_expr: str, b_expr: str, seed: int, out: str) -> list[tuple[str, str]]:
    """[(col, expr)] chain computing ``out = hash2(a_expr, b_expr, seed)``
    (functions/hashing.py:hash2) as a HUGEINT in [0, 2^64)."""
    seedk = (seed * _SM_K0) % _SM_M64
    st: list[tuple[str, str]] = []
    st.append((f"{out}_x0", f"xor(CAST({a_expr} AS HUGEINT), {seedk}::HUGEINT)"))
    st.extend(_sm_stages(f"{out}_x0", f"{out}_p_", f"{out}_s"))
    st.append((f"{out}_x1", f"xor({out}_s, CAST({b_expr} AS HUGEINT))"))
    st.extend(_sm_stages(f"{out}_x1", f"{out}_q_", out))
    return st


def _chain_ctes(base_name: str, chains: list[list[tuple[str, str]]],
                prefix: str) -> tuple[str, str]:
    """Fuse parallel stage chains into one `SELECT *, ...` CTE per depth
    level (independent chains advance together; DuckDB prunes the
    intermediates). Returns (cte_fragment, final_cte_name)."""
    depth = max(len(c) for c in chains)
    frags, prev = [], base_name
    for k in range(depth):
        cols = ", ".join(
            f"{e} AS {c}"
            for chain in chains
            if k < len(chain)
            for c, e in [chain[k]]
        )
        name = f"{prefix}{k}"
        frags.append(f"{name} AS (SELECT *, {cols} FROM {prev})")
        prev = name
    return ",\n    ".join(frags), prev


def _tokens_points_cte() -> str:
    """CTE chain ending in ``pts(doc_id, source, pos, token, ts)`` — the
    exact point stream the engine's flush ingests (sources/synth.py
    `_gen_batch` + sources/seriesize.py `synth_timestamps`, re-derived in
    SQL). The doc count reproduces `_tokens_docs(sf_dir)` from the events
    view: |events| = 1e6·sf and docs = max(200, 50000·sf) =
    greatest(200, |events| // 20)."""
    doc_chains = [
        _hash2_stages("d", "1", 42, "h_len"),
        _hash2_stages("d", "2", 42, "h_src"),
        _hash2_stages("d", "3", 42, "h_t0"),
    ]
    doc_frag, doc_final = _chain_ctes("d0", doc_chains, "dc")
    pt_chains = [
        _hash2_stages("d * 1048576", "pos", 49, "hv"),
        _hash2_stages("d * 1048576", "pos", 51, "h9"),
    ]
    pt_frag, pt_final = _chain_ctes("pts0", pt_chains, "pc")
    return f"""
    d0 AS (
      SELECT CAST(unnest(generate_series(0,
               (SELECT greatest(200, count(*) // 20) FROM events) - 1))
             AS HUGEINT) AS d
    ),
    {doc_frag},
    docs AS (
      SELECT d,
             'doc' || lpad(CAST(d AS VARCHAR), 10, '0') AS doc_id,
             CASE WHEN CAST(h_len >> 11 AS DOUBLE) / 9007199254740992.0 <= 0.3
                  THEN 16
                  WHEN CAST(h_len >> 11 AS DOUBLE) / 9007199254740992.0 <= 0.8
                  THEN 128 ELSE 1024 END AS n_tok,
             CASE WHEN CAST(h_src >> 11 AS DOUBLE) / 9007199254740992.0 <= 0.70
                  THEN 'web'
                  WHEN CAST(h_src >> 11 AS DOUBLE) / 9007199254740992.0 <= 0.85
                  THEN 'code'
                  WHEN CAST(h_src >> 11 AS DOUBLE) / 9007199254740992.0 <= 0.95
                  THEN 'books' ELSE 'wiki' END AS source,
             CAST(h_t0 % 86400000000 AS BIGINT) + 1700000000000000 AS t0
      FROM {doc_final}
    ),
    pts0 AS (
      SELECT d, doc_id, source, t0,
             CAST(unnest(generate_series(0, n_tok - 1)) AS HUGEINT) AS pos
      FROM docs
    ),
    {pt_frag},
    pts AS (
      SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
             CAST(hv % 20001 AS BIGINT) - 10000 AS token,
             t0 + CAST(pos AS BIGINT) * 100000
                + CAST((h9 % 65536) % 50000 AS BIGINT)
                - CASE WHEN pos > 0 AND ((h9 >> 16) % 50) = 0
                       THEN CAST((h9 >> 32) % 4000000 AS BIGINT) + 1
                       ELSE 0 END AS ts
      FROM {pt_final}
    )"""


def _tokens_pipeline_oracle() -> str:
    """Exact tier-2 oracle: regenerate the point stream in SQL, aggregate
    straight to 1-minute windows (tier1(1s)→promote(1m) composes to the
    same result: sums of sums, mins of mins, first by earliest first_ts —
    1s windows are disjoint ts ranges so the promote tie-break is vacuous).
    Within-window first/last tie-break on equal ts mirrors the flush
    kernel's STABLE per-row sort: arrival (pos) order."""
    return f"""
    WITH {_tokens_points_cte()}
    SELECT doc_id, source,
           (ts // 60000000) * 60000000 AS window_start,
           count(*) AS cnt,
           CAST(sum(token) AS BIGINT) AS sum_v,
           min(token) AS min_v,
           max(token) AS max_v,
           min(ts) AS first_ts,
           first(token ORDER BY ts, pos) AS first_v,
           max(ts) AS last_ts,
           last(token ORDER BY ts, pos) AS last_v,
           CAST(sum(token) AS DOUBLE) / count(*) AS avg_v
    FROM pts
    GROUP BY doc_id, source, (ts // 60000000) * 60000000
    """


@q("tokens_pipeline_tiers", _tokens_pipeline_oracle())
def tokens_pipeline_tiers(spark, sf_dir):
    """Flagship: synth tokens → seriesize → flush (sort + compress) →
    tier1(1s) → tier2(1m) continuous aggregates. Output = tier2 rows.
    Hard-oracled: DuckDB regenerates the splitmix64 corpus and windows it
    directly, so encode→sort→decode→rollup must be value-exact end-to-end."""
    toks = _gen_tokens(spark, _tokens_docs(sf_dir))
    chunks = _flush(toks)
    t1 = rollup_tiers(chunks, [WINDOW_1S_US]).drop("tier")
    return with_avg(promote(t1, US_1M))


@q(
    "tokens_roundtrip_check",
    f"""
    WITH {_tokens_points_cte()}
    SELECT doc_id,
           count(*) AS n_dec,
           CAST(sum(token) AS BIGINT) AS s_dec,
           true AS match
    FROM pts GROUP BY doc_id
    """,
)
def tokens_roundtrip_check(spark, sf_dir):
    """Self-verifying per-row invariant (BASELINE.json input_hint): decoded
    chunk contents must reproduce each doc's token array (count/sum/min/max
    and the full multiset via a order-insensitive xor-checksum). The
    ``match`` column must be uniformly true — and the DuckDB oracle
    independently regenerates each doc's count/sum from the splitmix64
    corpus with match=true, so a decode that drops, duplicates, or alters
    any point fails the gate twice (its own match flag AND the oracle's
    value hash)."""
    toks = _gen_tokens(spark, _tokens_docs(sf_dir))
    chunks = _flush(toks)
    pts = decode_points(chunks)
    got = pts.groupBy("doc_id").agg(
        F.count("*").alias("n_dec"),
        F.sum("value").alias("s_dec"),
        # multiset hash: bounded sum of hashes (XOR would cancel duplicate
        # token values); 2^40-bounded terms cannot overflow under ANSI mode
        F.sum(F.pmod(F.xxhash64("value"), F.lit(2**40))).alias("x_dec"),
    )
    want = toks.select(
        "doc_id",
        F.size("tokens").alias("n_in"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("s_in"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"),
            lambda a, x: a + F.pmod(F.xxhash64(x.cast("long")), F.lit(2**40)),
        ).alias("x_in"),
    )
    j = got.join(want, "doc_id")
    return j.select(
        "doc_id",
        "n_dec",
        "s_dec",
        (
            (F.col("n_dec") == F.col("n_in"))
            & (F.col("s_dec") == F.col("s_in"))
            & (F.col("x_dec") == F.col("x_in"))
        ).alias("match"),
    )


def _tokens_metrics_oracle() -> str:
    """Exact oracle for the per-source compression-metrics rollup: DuckDB
    regenerates the point stream, replays the flush kernel's STABLE
    ts-then-arrival sort, and computes the ENCODED BYTE LENGTHS in closed
    form — both planes are byte-aligned class codecs (codecs/batched.py
    encode_rows): blob = 8-byte header + ceil(n/4) packed 2-bit length
    plane + per-value payload whose width is 1/2/4/8 by the zigzag
    magnitude, with the time plane's first element always 8 raw bytes.
    Inversions are the flush kernel's lineage stat: ADJACENT
    ts-regressions in arrival (pos) order, counted per doc."""
    return f"""
    WITH {_tokens_points_cte()},
    ordered AS (
      SELECT doc_id, source, token, ts,
             row_number() OVER (PARTITION BY doc_id ORDER BY ts, pos) AS rk,
             lag(ts) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_arrival_ts
      FROM pts
    ),
    delt AS (
      SELECT doc_id, source, rk, token,
             ts - lag(ts) OVER (PARTITION BY doc_id ORDER BY rk) AS dts,
             CASE WHEN ts < prev_arrival_ts THEN 1 ELSE 0 END AS is_inv
      FROM ordered
    ),
    zz AS (
      SELECT doc_id, source, rk, is_inv,
             CASE WHEN dts >= 0 THEN 2 * dts ELSE -2 * dts - 1 END AS zzt,
             CASE WHEN token >= 0 THEN 2 * CAST(token AS BIGINT)
                  ELSE -2 * CAST(token AS BIGINT) - 1 END AS zzv
      FROM delt
    ),
    per_doc AS (
      SELECT doc_id, source,
             count(*) AS n,
             CAST(sum(is_inv) AS BIGINT) AS n_inv,
             8 + (count(*) + 3) // 4 + CAST(sum(
               CASE WHEN rk = 1 THEN 8
                    WHEN zzt < 256 THEN 1
                    WHEN zzt < 65536 THEN 2
                    WHEN zzt < 4294967296 THEN 4
                    ELSE 8 END) AS BIGINT) AS bytes_time,
             8 + (count(*) + 3) // 4 + CAST(sum(
               CASE WHEN zzv < 256 THEN 1
                    WHEN zzv < 65536 THEN 2
                    WHEN zzv < 4294967296 THEN 4
                    ELSE 8 END) AS BIGINT) AS bytes_value
      FROM zz
      GROUP BY doc_id, source
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_points,
           CAST(sum(16 * n) AS BIGINT) AS bytes_raw,
           CAST(sum(bytes_time + bytes_value) AS BIGINT) AS bytes_compressed,
           CAST(sum(n_inv) AS BIGINT) AS inversions,
           round(CAST(sum(bytes_time + bytes_value) AS DOUBLE)
                 / CAST(sum(16 * n) AS DOUBLE), 4) AS ratio
    FROM per_doc
    GROUP BY source
    """


@q("tokens_compression_metrics", _tokens_metrics_oracle())
def tokens_compression_metrics(spark, sf_dir):
    """Per-source lineage + metrics rollup from the chunk table: compression
    ratio, inversion counts, point/byte totals — the per-partition metrics
    the north rule requires, aggregated with a salted two-phase groupBy (the
    ``source`` column is 70% 'web': salt first, merge after). Output is
    fully deterministic and hard-oracled: the DuckDB oracle recomputes the
    encoded plane sizes in closed form from the codec's class widths, so a
    single byte of encoder drift fails the gate. The measured encode wall
    time stays available on the chunk table (``encode_ns``) and in bench's
    flush decomposition; it is excluded here so the gate compares values,
    not clocks."""
    toks = _gen_tokens(spark, _tokens_docs(sf_dir))
    chunks = _flush(toks)
    # two-phase salted aggregation: partial by (source, salt), final by source
    salted = chunks.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
    partial = salted.groupBy("source", "salt").agg(
        F.count("*").alias("n_docs"),
        F.sum("count").alias("n_points"),
        F.sum("bytes_raw").alias("bytes_raw"),
        F.sum(F.col("bytes_time") + F.col("bytes_value")).alias("bytes_compressed"),
        F.sum("n_inversions").alias("inversions"),
    )
    final = partial.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_points").alias("n_points"),
        F.sum("bytes_raw").alias("bytes_raw"),
        F.sum("bytes_compressed").alias("bytes_compressed"),
        F.sum("inversions").alias("inversions"),
    )
    return final.withColumn(
        "ratio", F.round(F.col("bytes_compressed") / F.col("bytes_raw"), 4)
    )


_PACK_L = 256  # context length for the packing gate entry


def _pack_sequences_oracle() -> str:
    """Oracle: regenerate the corpus, place every token at its global
    offset with a window prefix-sum over the docs CTE, chunk by integer
    division, and recompute the per-sequence positional checksums.  The
    checksum weights are ORDER-SENSITIVE ((sp+1) and (sp+1)^2), so a
    packing that permutes, drops, or duplicates any token inside any
    sequence fails the gate; terms are bounded by 257^2 * 20001 ≈ 1.3e9
    times 256 terms — exact BIGINT arithmetic on both engines."""
    return f"""
    WITH {_tokens_points_cte()},
    offs AS (
      SELECT doc_id,
             coalesce(sum(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM docs
    ),
    gp AS (
      SELECT CAST((o.off + p.pos) // {_PACK_L} AS BIGINT) AS seq_id,
             CAST((o.off + p.pos) % {_PACK_L} AS BIGINT) AS sp,
             p.token, p.doc_id
      FROM pts p JOIN offs o USING (doc_id)
    )
    SELECT seq_id,
           count(DISTINCT doc_id) AS n_docs,
           arg_min(token, sp) AS first_tok,
           arg_max(token, sp) AS last_tok,
           CAST(sum((sp + 1) * (token + 10001)) AS BIGINT) AS cksum1,
           CAST(sum((sp + 1) * (sp + 1) * (token + 10001)) AS BIGINT) AS cksum2
    FROM gp
    GROUP BY seq_id
    HAVING count(*) = {_PACK_L}
    """


@q("pack_sequences", _pack_sequences_oracle())
def pack_sequences_q(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing of the pre-tokenized
    corpus into ctx={_PACK_L}-token training sequences (docs may span
    sequence boundaries; final partial dropped).  The gate row per sequence
    carries order-sensitive positional checksums instead of the raw array
    (the gate's value compare stringifies nested columns engine-specifically),
    plus first/last token and the contributing-doc count."""
    from .operators.packing import pack_sequences

    toks = _gen_tokens(spark, _tokens_docs(sf_dir))
    seqs = pack_sequences(toks, _PACK_L)
    wt = F.transform(
        "tokens", lambda x, i: (i + 1).cast("long") * (x.cast("long") + 10001)
    )
    wt2 = F.transform(
        "tokens",
        lambda x, i: (i + 1).cast("long") * (i + 1).cast("long")
        * (x.cast("long") + 10001),
    )
    zero = F.lit(0).cast("long")
    return seqs.select(
        "seq_id",
        "n_docs",
        F.element_at("tokens", 1).cast("long").alias("first_tok"),
        F.element_at("tokens", _PACK_L).cast("long").alias("last_tok"),
        F.aggregate(wt, zero, lambda a, x: a + x).alias("cksum1"),
        F.aggregate(wt2, zero, lambda a, x: a + x).alias("cksum2"),
    )


def _pack_nosplit_oracle() -> str:
    """Oracle: regenerate doc lengths, replay the greedy no-split fill as
    a recursive CTE carrying (cur, seq) through each group's doc order —
    the same anchored-sequential pattern as the variation-window oracle.
    ``n_tok`` is always ≥ 16, so the kernel's ``cur > 0`` guard is vacuous
    here and the recursion's rollover condition is exactly the kernel's."""
    return f"""
    WITH RECURSIVE {_tokens_points_cte()},
    pd AS (
      SELECT substring(doc_id, 1, 10) AS grp, doc_id,
             CAST(n_tok AS BIGINT) AS n_tok,
             row_number() OVER (PARTITION BY substring(doc_id, 1, 10)
                                ORDER BY doc_id) AS rn
      FROM docs
    ),
    fill(grp, rn, doc_id, n_tok, cur, seq) AS (
      SELECT grp, rn, doc_id, n_tok, n_tok, CAST(0 AS BIGINT)
      FROM pd WHERE rn = 1
      UNION ALL
      SELECT p.grp, p.rn, p.doc_id, p.n_tok,
             CASE WHEN f.cur + p.n_tok > {_PACK_L} THEN p.n_tok
                  ELSE f.cur + p.n_tok END,
             CASE WHEN f.cur + p.n_tok > {_PACK_L} THEN f.seq + 1
                  ELSE f.seq END
      FROM fill f JOIN pd p ON p.grp = f.grp AND p.rn = f.rn + 1
    )
    SELECT grp, seq AS seq_in_grp,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST({_PACK_L} - sum(n_tok) AS BIGINT) AS pad,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           sum(n_tok) > {_PACK_L} AS oversize
    FROM fill GROUP BY grp, seq
    """


@q("pack_greedy_nosplit", _pack_nosplit_oracle())
def pack_greedy_nosplit_q(spark, sf_dir):
    """SFT-style NO-SPLIT packing into ctx={_PACK_L}: whole documents only,
    new sequence on overflow, oversize docs isolated — the complement of
    the splitting `pack_sequences`. Sequentiality is confined to the
    doc_id-prefix shard (the production unit); the fill reads only
    (doc_id, n_tok), so token arrays never shuffle. Oracle replays the
    greedy fill with a recursive CTE."""
    from .operators.packing import pack_greedy_nosplit

    toks = _gen_tokens(spark, _tokens_docs(sf_dir))
    return pack_greedy_nosplit(toks, _PACK_L)


@q(
    "token_histogram",
    f"""
    WITH {_tokens_points_cte()}
    SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
    FROM pts GROUP BY token
    ORDER BY n_occ DESC, token LIMIT 200
    """,
)
def token_histogram_q(spark, sf_dir):
    """Corpus vocabulary profile: top-200 token ids by frequency with
    per-token document counts (tokenizer QA / coverage check).  Each Arrow
    batch pre-reduces to vocab-sized partials (np.bincount) before the one
    exchange; (n_occ desc, token asc) is a total order, so the top-k cutoff
    is deterministic on both engines.  The partial kernel runs FUSED with
    the synthetic generator in one Python worker (generate_tokens_mapped):
    two chained same-stage mapInArrow runners cost ~15 s warm at sf0.1
    where the fused plan takes 1.2 s — the hop doesn't exist at 100 TB,
    where the source is a parquet scan feeding token_histogram directly."""
    from .operators.packing import (
        HIST_PARTIAL_SCHEMA,
        histogram_partials_kernel,
        histogram_topk,
    )
    from .sources.synth import generate_tokens_mapped

    part = generate_tokens_mapped(
        spark, _tokens_docs(sf_dir), histogram_partials_kernel, HIST_PARTIAL_SCHEMA
    )
    return histogram_topk(part, 200)


# -- remaining operator surface: HAVING, UDAF, aligned scan, variation(delta),
#    TS_2DIFF codec ------------------------------------------------------------

from .codecs.chunk import CODEC_TS2DIFF  # noqa: E402
from .operators.windows import variation_windows_delta  # noqa: E402


@q(
    "roundtrip_ts2diff",
    """
    SELECT user_id, epoch_us(ts) AS ts_us, event_id
    FROM events
    """,
)
def roundtrip_ts2diff(spark, sf_dir):
    """TS_2DIFF (block min-delta, fixed width per block — reference
    DeltaBinaryEncoder) end-to-end round trip on real series."""
    chunks = _encode_user_series(
        spark, sf_dir, value_expr="event_id", codec_pair=(CODEC_TS2DIFF, CODEC_VARINT)
    )
    return _decode_user_series(chunks, "event_id_out").select(
        "user_id", "ts_us", F.col("event_id_out").alias("event_id")
    )


@q(
    "having_filter",
    f"""
    WITH b AS (SELECT user_id, epoch_us(ts) // {US_1D} * {US_1D} AS h, {Q} AS q FROM events)
    SELECT user_id, h, count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q
    FROM b GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def having_filter(spark, sf_dir):
    """GROUP BY ... HAVING (IoTDBSqlParser.g4:732-734): post-aggregation
    predicate — a filter on the aggregated frame."""
    ev = _events(spark, sf_dir)
    h = F.expr(f"(ts_us div {US_1D}) * {US_1D}")
    return (
        ev.groupBy("user_id", h.alias("h"))
        .agg(F.count("*").alias("cnt"), F.sum("q").alias("sum_q"))
        .filter(F.col("cnt") >= 2)
    )


@q(
    "udaf_median",
    f"""
    WITH b AS (SELECT user_id, {Q} AS q FROM events)
    SELECT user_id, median(q) AS med_q FROM b GROUP BY 1
    """,
)
def udaf_median(spark, sf_dir):
    """Custom aggregate via a vectorized GROUPED_AGG pandas UDF (the
    UDAFAccumulator surface, reference execution/aggregation/
    UDAFAccumulator.java): exact median over the quantized values."""
    @F.pandas_udf("double")
    def med(v: pd.Series) -> float:  # GROUPED_AGG: Series -> scalar
        return float(np.median(v.to_numpy(np.float64)))

    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(med("q").alias("med_q"))


@q(
    "aligned_series_scan",
    f"""
    SELECT user_id, epoch_us(ts) AS ts_us, {Q} AS q, event_id
    FROM events
    """,
)
def aligned_series_scan(spark, sf_dir):
    """AlignedSeriesScanOperator: one time plane shared by multiple value
    planes — encode ts once, two value columns (q, event_id) as separate
    varint planes, decode all three in lockstep (batched kernels, whole
    Arrow batches of series per call)."""
    from .codecs.batched import decode_chunk_rows, encode_chunk_rows

    ev = _events(spark, sf_dir).select("user_id", "ts_us", "q", "event_id")
    schema = "user_id bigint, ts_us bigint, q bigint, event_id bigint"

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            uid, flat, splits = _pts_np(b)
            planes = []
            for name, codec in (
                ("ts_us", CODEC_DELTA), ("q", CODEC_VARINT), ("event_id", CODEC_VARINT)
            ):
                raw = flat.field(name).to_numpy(zero_copy_only=False).astype(np.int64)
                buf, sp = encode_chunk_rows(raw, splits, codec)
                planes.append(decode_chunk_rows(buf, sp)[0])
            counts = np.diff(splits)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(uid, counts))] + [pa.array(p) for p in planes],
                names=["user_id", "ts_us", "q", "event_id"],
            )

    return _collected_series(ev, "q").mapInArrow(kern, schema=schema)


@q(
    "aligned_series_agg",
    f"""
    WITH b AS (SELECT user_id, epoch_us(ts) AS ts_us, {Q} AS q, event_id FROM events)
    SELECT user_id, ts_us // {US_1H} * {US_1H} AS window_start,
           count(*) AS cnt, CAST(sum(q) AS BIGINT) AS sum_q,
           min(q) AS min_q, max(q) AS max_q,
           min(event_id) AS min_e, max(event_id) AS max_e
    FROM b GROUP BY 1, 2
    """,
)
def aligned_series_agg(spark, sf_dir):
    """AlignedSeriesAggregationScanOperator: windowed aggregates over ALL
    value planes of an aligned device in one scan — the shared time plane
    is decoded once and every value plane aggregates against it (reference
    execution/operator/source/AlignedSeriesAggregationScanOperator)."""
    df = aligned_series_scan(spark, sf_dir)
    w = F.expr(f"(ts_us div {US_1H}) * {US_1H}")
    return df.groupBy("user_id", w.alias("window_start")).agg(
        F.count("*").alias("cnt"),
        F.sum("q").alias("sum_q"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
        F.min("event_id").alias("min_e"),
        F.max("event_id").alias("max_e"),
    )


@q(
    "variation_window_delta",
    """
    WITH RECURSIVE ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS rn
      FROM events
    ),
    walk AS (
      SELECT user_id, rn, ts_us, value, CAST(0 AS BIGINT) AS variation_group,
             value AS anchor
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.ts_us, e.value,
             CASE WHEN abs(e.value - w.anchor) > 100.0
                  THEN w.variation_group + 1 ELSE w.variation_group END,
             CASE WHEN abs(e.value - w.anchor) > 100.0
                  THEN e.value ELSE w.anchor END
      FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
    )
    SELECT user_id, variation_group, count(*) AS cnt,
           min(ts_us) AS start_ts, max(ts_us) AS end_ts
    FROM walk GROUP BY user_id, variation_group
    """,
)
def variation_window_delta(spark, sf_dir):
    """General VariationWindow(delta): window breaks when |v - first_of_
    window| > delta (reference window/VariationWindow) — sequential per
    series: sort_array(collect_list(struct)) groups JVM-side, one
    mapInArrow kernel scans every complete series per batch (see
    operators/windows.py); delta=0 variant has a SQL oracle above.

    The anchored scan IS SQL-expressible as a recursive CTE: the anchor is
    carried through the recursion one row per step (depth = max rows per
    series), so the DuckDB oracle is exact, not rows-only. Ties on ts_us
    would make the anchor order-dependent; the events table has none
    (asserted by the pytest oracle)."""
    ev = _events(spark, sf_dir).select("user_id", "ts_us", "value")
    out = variation_windows_delta(ev, "user_id", "ts_us", "value", delta=100.0)
    return out.groupBy("user_id", "variation_group").agg(
        F.count("*").alias("cnt"),
        F.min("ts_us").alias("start_ts"),
        F.max("ts_us").alias("end_ts"),
    )


@q(
    "asof_join_prev_click",
    """
    WITH b AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
          OVER w AS prev_click_ts,
        last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
          OVER w AS prev_click_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id AS purchase_id, ts_us, prev_click_ts, prev_click_id
    FROM b WHERE event_type = 'purchase'
    """,
)
def asof_join_prev_click(spark, sf_dir):
    """As-of join (not in the reference's SQL surface; IoTDB gets the same
    effect from FILL PREVIOUS — SURVEY §2.5): for every purchase, the most
    recent click at or before it, expressed as a running last-non-null over
    the time-ordered union — no range join, one window pass."""
    ev = _events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("ts_us")), ignorenulls=True
    ).over(w)
    click_id = F.last(
        F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("prev_click_ts", click_ts)
        .withColumn("prev_click_id", click_id)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "ts_us",
            "prev_click_ts",
            "prev_click_id",
        )
    )


@q(
    "compaction_merge",
    """
    SELECT user_id, epoch_us(ts) AS ts_us, event_id
    FROM events
    """,
)
def compaction_merge(spark, sf_dir):
    """Compaction end-to-end under the oracle gate: each user's series is
    split into two overlapping pages (even/odd points), encoded separately
    (two flushes), merged by the page-merge kernel (k-merge regime), and
    decoded — the merged chunk must reproduce the full series exactly
    (reference PersistUncompressingSorter / CompactionSorterTest)."""
    from .codecs.bytealigned import delta_decode as _dd
    from .codecs.bytealigned import delta_encode as _de
    from .codecs.bytealigned import varint_decode as _vd
    from .codecs.bytealigned import varint_encode as _ve
    from .operators.page_merge import merge_pages as _mp

    ev = _events(spark, sf_dir).select("user_id", "ts_us", "event_id")
    schema = "user_id bigint, ts_us bigint, event_id bigint"

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            uid, flat, splits = _pts_np(b)
            all_ts = flat.field("ts_us").to_numpy(zero_copy_only=False).astype(np.int64)
            all_ids = flat.field("event_id").to_numpy(zero_copy_only=False).astype(np.int64)
            out_ts, out_ids, counts = [], [], np.empty(b.num_rows, np.int64)
            for i in range(b.num_rows):  # merge kernel is per-series by design
                ts = all_ts[splits[i] : splits[i + 1]]
                ids = all_ids[splits[i] : splits[i + 1]]
                mt, mv, _ = _mp(
                    [_de(ts[0::2]), _de(ts[1::2])], [_ve(ids[0::2]), _ve(ids[1::2])]
                )
                out_ts.append(_dd(mt))
                out_ids.append(_vd(mv))
                counts[i] = len(out_ts[-1])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(uid, counts)),
                    pa.array(np.concatenate(out_ts)),
                    pa.array(np.concatenate(out_ids)),
                ],
                names=["user_id", "ts_us", "event_id"],
            )

    return _collected_series(ev).mapInArrow(kern, schema=schema)


# --- ANN hard oracles (attached post-hoc: they need the splitmix helpers) ---
#
# Both approximate-ANN paths are DETERMINISTIC pure functions of the corpus:
# `lsh_topk`'s hyperplanes are splitmix64-counter Box–Muller draws
# (operators/similarity.py:hyperplanes) and `ivf_topk`'s coarse quantizer is
# a portable-md5-sampled seed set + exactly one Lloyd step — so DuckDB can
# re-derive buckets / centroids / candidate sets from first principles and
# the gate compares the exact rank output (integer-only, like
# ann_cosine_topk: float scores never cross the gate hash). Sign/argmax
# decisions are robust to cross-engine float noise (~1e-15 relative on O(1)
# dot products); a flip would need a dot within ~1e-13 of a decision
# boundary, measure-zero on this corpus.

_LSH_SEED_OFF = 7 * 10_000_019  # hyperplanes(seed=7) counter offset
_lsh_frag, _lsh_final = _chain_ctes(
    "lc0", [[("px", f"(c + {_LSH_SEED_OFF})")] + _sm_stages("px", "lp_", "h")], "lpc"
)

ORACLES["ann_lsh_topk"] = f"""
    WITH dv AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
    lc0 AS (
      SELECT CAST(unnest(generate_series(0, 2 * 6 * (SELECT dim FROM dv) - 1))
             AS HUGEINT) AS c
    ),
    {_lsh_frag},
    lu AS (
      SELECT CAST(c AS BIGINT) AS ci,
             CAST(h >> 11 AS DOUBLE) / 9007199254740992.0 AS u
      FROM {_lsh_final}
    ),
    lg AS (
      SELECT u0.ci AS bj,
             sqrt(-2 * ln(u0.u + 1e-12)) * cos(2 * pi() * u1.u) AS g
      FROM lu u0 JOIN lu u1 ON u1.ci = u0.ci + 6 * (SELECT dim FROM dv)
      WHERE u0.ci < 6 * (SELECT dim FROM dv)
    ),
    pl AS (
      SELECT bj // (SELECT dim FROM dv) AS b,
             list(g ORDER BY bj % (SELECT dim FROM dv)) AS plane
      FROM lg GROUP BY 1
    ),
    ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
    bkt AS (
      SELECT ed.vec_id,
             CAST(SUM(CASE WHEN list_inner_product(ed.e, pl.plane) > 0
                           THEN CAST(1 AS BIGINT) << pl.b ELSE 0 END) AS BIGINT) AS bucket
      FROM ed CROSS JOIN pl GROUP BY ed.vec_id
    ),
    qb AS (
      SELECT b.vec_id AS query_id, b.bucket AS qbucket, ed.e AS qe
      FROM bkt b JOIN ed ON ed.vec_id = b.vec_id WHERE b.vec_id < 10
    ),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_inner_product(q.qe, ed.e) /
               greatest(sqrt(list_inner_product(q.qe, q.qe)) *
                        sqrt(list_inner_product(ed.e, ed.e)), 1e-12) AS score
      FROM qb q
      JOIN bkt v ON bit_count(xor(q.qbucket, v.bucket)) <= 2
                AND v.vec_id <> q.query_id
      JOIN ed ON ed.vec_id = v.vec_id
    )
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored QUALIFY rank <= 5
    """

ORACLES["ann_ivf_topk"] = """
    WITH dv AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
    ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
    en AS (  -- unit vectors, norm clamped at 1e-12 exactly like the engine
      SELECT vec_id, e,
             list_transform(e, x -> x /
               greatest(sqrt(list_inner_product(e, e)), 1e-12)) AS mn
      FROM ed
    ),
    seeds AS (  -- 16 smallest portable-md5 hashes of vec_id + 11*1000003
      SELECT vec_id, mn AS cent
      FROM en
      ORDER BY CAST('0x' || substr(md5(CAST(vec_id + 11000033 AS VARCHAR)), 1, 8)
                    AS BIGINT), vec_id
      LIMIT 16
    ),
    cents0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, cent FROM seeds),
    assign0 AS (  -- one Lloyd step: nearest seed centroid by dot product
      SELECT vec_id, mn, c FROM (
        SELECT en.vec_id, en.mn, c0.c,
               row_number() OVER (PARTITION BY en.vec_id
                 ORDER BY list_inner_product(en.mn, c0.cent) DESC, c0.c) AS rn
        FROM en CROSS JOIN cents0 c0
      ) t WHERE rn = 1
    ),
    js AS (SELECT CAST(unnest(generate_series(1, (SELECT dim FROM dv))) AS INT) AS j),
    cm AS (  -- component-wise mean of each cluster's unit vectors
      SELECT c, list(m ORDER BY j) AS v FROM (
        SELECT a.c, js.j, avg(a.mn[js.j]) AS m
        FROM assign0 a CROSS JOIN js GROUP BY a.c, js.j
      ) t GROUP BY c
    ),
    cnew AS (  -- re-normalized means; empty/degenerate clusters keep the seed
      SELECT c0.c,
             CASE WHEN cm.c IS NOT NULL
                       AND sqrt(list_inner_product(cm.v, cm.v)) > 1e-12
                  THEN list_transform(cm.v, x -> x /
                         sqrt(list_inner_product(cm.v, cm.v)))
                  ELSE c0.cent END AS cent
      FROM cents0 c0 LEFT JOIN cm ON cm.c = c0.c
    ),
    fassign AS (  -- inverted lists over the updated centroids
      SELECT vec_id, c FROM (
        SELECT en.vec_id, cn.c,
               row_number() OVER (PARTITION BY en.vec_id
                 ORDER BY list_inner_product(en.mn, cn.cent) DESC, cn.c) AS rn
        FROM en CROSS JOIN cnew cn
      ) t WHERE rn = 1
    ),
    probes AS (  -- each query's 4 closest centroids
      SELECT query_id, c FROM (
        SELECT en.vec_id AS query_id, cn.c,
               row_number() OVER (PARTITION BY en.vec_id
                 ORDER BY list_inner_product(en.mn, cn.cent) DESC, cn.c) AS rn
        FROM en CROSS JOIN cnew cn WHERE en.vec_id < 10
      ) t WHERE rn <= 4
    ),
    scored AS (
      SELECT p.query_id, fa.vec_id AS neighbor_id,
             list_inner_product(eq.e, ev.e) /
               greatest(sqrt(list_inner_product(eq.e, eq.e)) *
                        sqrt(list_inner_product(ev.e, ev.e)), 1e-12) AS score
      FROM probes p
      JOIN fassign fa ON fa.c = p.c AND fa.vec_id <> p.query_id
      JOIN ed eq ON eq.vec_id = p.query_id
      JOIN ed ev ON ev.vec_id = fa.vec_id
    )
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored QUALIFY rank <= 5
    """


# dedup_lsh_candidates: same plane-regeneration scheme as ann_lsh_topk, but
# for the 8-table × 8-bit bank of lsh_candidate_pairs (seed 101).
# hyperplanes(dim, 64, 101) is reshaped (8, 8, dim) by the engine, so global
# bit index g maps to table g // 8, in-table bit g % 8. The oracle rebuilds
# every (table, bucket) cell, applies the same bucket-cap hub suppression
# (count > 2000 dropped — never binds at test scale but kept for semantic
# parity), and emits the distinct same-cell (a < b) join. Output is
# integer-only, so cross-engine float noise on the plane dot products
# (~1e-15, sign decisions measure-zero from zero) never crosses the gate.

_CAND_SEED_OFF = 101 * 10_000_019  # hyperplanes(seed=101) counter offset
_cand_frag, _cand_final = _chain_ctes(
    "cc0", [[("px", f"(c + {_CAND_SEED_OFF})")] + _sm_stages("px", "cp_", "h")], "cpc"
)

ORACLES["dedup_lsh_candidates"] = f"""
    WITH dv AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
    cc0 AS (
      SELECT CAST(unnest(generate_series(0, 2 * 64 * (SELECT dim FROM dv) - 1))
             AS HUGEINT) AS c
    ),
    {_cand_frag},
    cu AS (
      SELECT CAST(c AS BIGINT) AS ci,
             CAST(h >> 11 AS DOUBLE) / 9007199254740992.0 AS u
      FROM {_cand_final}
    ),
    cg AS (
      SELECT u0.ci AS bj,
             sqrt(-2 * ln(u0.u + 1e-12)) * cos(2 * pi() * u1.u) AS g
      FROM cu u0 JOIN cu u1 ON u1.ci = u0.ci + 64 * (SELECT dim FROM dv)
      WHERE u0.ci < 64 * (SELECT dim FROM dv)
    ),
    pl AS (
      SELECT bj // (SELECT dim FROM dv) AS bit_g,
             list(g ORDER BY bj % (SELECT dim FROM dv)) AS plane
      FROM cg GROUP BY 1
    ),
    ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings),
    bkt AS (
      SELECT ed.vec_id, pl.bit_g // 8 AS tbl,
             CAST(SUM(CASE WHEN list_inner_product(ed.e, pl.plane) > 0
                           THEN CAST(1 AS BIGINT) << (pl.bit_g % 8)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM ed CROSS JOIN pl GROUP BY ed.vec_id, pl.bit_g // 8
    ),
    keepb AS (
      SELECT tbl, bucket FROM bkt GROUP BY tbl, bucket HAVING count(*) <= 2000
    ),
    kb AS (SELECT b.* FROM bkt b JOIN keepb k USING (tbl, bucket))
    SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
    FROM kb x JOIN kb y ON x.tbl = y.tbl AND x.bucket = y.bucket
                       AND x.vec_id < y.vec_id
    """


# ---------------------------------------------------------------------------
# driver-gate rotation (round 6)
# ---------------------------------------------------------------------------
# The driver's correctness gate records rows for the FIRST 50 registry
# entries only; rounds 4-5 left 14 entries -- including the flagship
# ``tokens_pipeline_tiers`` -- permanently outside the graded gate even
# though all 64 pass the same exact oracles (r5 verdict, "What's missing"
# #1).  Rotation policy: entries that have been driver-green for >= 4
# consecutive rounds rotate to the back of the registry so never-gated
# entries take their gate slots.  This reorders the (name -> fn) dict
# ONLY -- every query, its oracle SQL text, and its results are
# byte-identical; each incoming entry takes the exact list position its
# outgoing partner vacated, so the bench sweep's warm-up profile is
# preserved.
_GATE_ROTATE_OUT_R06 = [
    # driver-green history (CORRECTNESS_r01..r05): G >= 4 consecutive
    "rollup_natural_month",      # r02-r05
    "count_window_20",           # r02-r05
    "last_point",                # r01-r05
    "horizontal_concat",         # r01-r05
    "aggregates_suite",          # r02-r05
    "transform_filter_project",  # r01-r05
    "topk_per_series",           # r01-r05
    "sort_limit_offset",         # r01-r05
    "group_by_rollup_levels",    # r02-r05
    "group_by_levels_multi",     # r02-r05
    "text_token_count",          # r01-r05
    "text_quality",              # r01-r05
    "text_language_id",          # r01-r05
    "doc_fingerprint",           # r01-r05
]


def _rotate_gate() -> None:
    old = list(SPARK_QUERIES)
    never_gated = old[50:]  # the 14 entries outside the r5 driver gate
    out_set = set(_GATE_ROTATE_OUT_R06)
    in_set = set(never_gated)
    assert len(never_gated) == len(_GATE_ROTATE_OUT_R06) == 14
    assert out_set <= set(old[:50]) and not (out_set & in_set)
    incoming = iter(never_gated)
    new = []
    for name in old:
        if name in in_set:
            continue  # placed at its partner's vacated position below
        new.append(next(incoming) if name in out_set else name)
    new += _GATE_ROTATE_OUT_R06
    assert sorted(new) == sorted(old) and len(new) == len(old)
    for registry in (SPARK_QUERIES, ORACLES):
        reordered = {n: registry[n] for n in new if n in registry}
        registry.clear()
        registry.update(reordered)


_rotate_gate()
