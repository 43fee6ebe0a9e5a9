"""Continuous aggregates: tier-0 chunks → tumbling-window rollup tiers.

Semantics follow IoTDB ``GROUP BY ([t1,t2), interval)`` — left-closed
right-open windows aligned to the epoch (reference window iterator
``AggrWindowIterator``, datanode/.../aggregation/timerangeiterator/
AggrWindowIterator.java:30-33) — with the accumulator set
count/sum/min/max/avg/first/last (reference execution/aggregation/*).

Physical design (the SeriesAggregationScanOperator idea made structural,
SURVEY.md §2.5): ``rollup_tiers`` decodes each chunk ONCE and computes the
per-(chunk, window) partials of EVERY tier inside the decode kernel via
``np.*.reduceat`` on the decoded arrays, so the shuffle that follows
carries one row per (tier, doc, window), not one per point. Catalyst then
runs partial/final aggregation on top for docs with several chunks.
Every aggregate composes (sum of sums, min of mins, first by earliest
first_ts, ...), which is what ``promote`` (tier k → coarser window, a pure
DataFrame ``groupBy``) relies on; it is exact only when the coarser
window is a multiple of the finer one.

Windows fully covered by a chunk can be answered from chunk statistics
alone (`rollup_from_stats`) without decoding any blob.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..codecs.batched import decode_rows

WINDOW_1M_US = 60_000_000
WINDOW_1H_US = 3_600_000_000
WINDOW_1D_US = 86_400_000_000

def _blob_np(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Binary array -> (data uint8, splits int64) without per-row copies."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    bufs = col.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return data, offsets


def decode_points(chunks_df: DataFrame) -> DataFrame:
    """chunks → (doc_id, source, ts, value) point rows, batched decode."""

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbuf, tsp = _blob_np(batch.column("time_blob"))
            vbuf, vsp = _blob_np(batch.column("value_blob"))
            ts, splits = decode_rows(tbuf, tsp)
            vals, _ = decode_rows(vbuf, vsp)
            counts = np.diff(splits)
            idx = pa.array(np.repeat(np.arange(batch.num_rows), counts))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").take(idx),
                    batch.column("source").take(idx),
                    pa.array(ts),
                    pa.array(vals),
                ],
                names=["doc_id", "source", "ts", "value"],
            )

    return chunks_df.select("doc_id", "source", "time_blob", "value_blob").mapInArrow(
        kern, schema="doc_id string, source string, ts bigint, value bigint"
    )


def _finalize(partials: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Merge partials across chunks of the same (doc, window) — Catalyst
    plans this as partial+final HashAggregate, map-side combined."""
    return partials.groupBy(*extra_keys, "doc_id", "source", "window_start").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.min("first_ts").alias("first_ts"),
        F.min_by("first_v", "first_ts").alias("first_v"),
        F.max("last_ts").alias("last_ts"),
        F.max_by("last_v", "last_ts").alias("last_v"),
    )


def promote(tier_df: DataFrame, coarser_window_us: int) -> DataFrame:
    """tier k → tier k+1: pure DataFrame over pre-aggregated rows, no
    Python, no decode. Exact only when ``coarser_window_us`` is a multiple
    of the finer tier's window: a finer window that straddles a coarser
    boundary lands whole in the earlier coarser window."""
    # exact integer bucketing (epoch-µs exceeds 2^53; see windows.tumbling)
    regrouped = tier_df.withColumn(
        "window_start",
        F.expr(f"(window_start div {coarser_window_us}) * {coarser_window_us}"),
    )
    return _finalize(regrouped)


def with_avg(tier_df: DataFrame) -> DataFrame:
    return tier_df.withColumn("avg_v", F.col("sum_v") / F.col("cnt"))


def rollup_from_stats(chunks_df: DataFrame) -> DataFrame:
    """Aggregate directly from chunk statistics — valid when the query
    window fully covers each chunk (here: per-doc totals). This is the
    reference's statistics-based aggregation scan: zero blob reads; the
    parquet scan prunes to the stats columns only."""
    return chunks_df.groupBy("doc_id", "source").agg(
        F.sum("count").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# fused multi-tier rollup: every tier from ONE decode pass, ONE job
# ---------------------------------------------------------------------------

TIERS_PARTIAL_SCHEMA = (
    "tier int, doc_id string, source string, window_start bigint, cnt bigint, "
    "sum_v bigint, min_v bigint, max_v bigint, "
    "first_ts bigint, first_v bigint, last_ts bigint, last_v bigint"
)


def _tiers_partials_kernel(windows_us: list[int]):
    """Decode each chunk ONCE, then emit per-(chunk, window) partials for
    EVERY tier granularity from the same decoded arrays — the per-tier
    boundary scan + ``np.*.reduceat`` is a tiny fraction of the decode cost,
    so the marginal price of a coarser tier is ~zero.  With one chunk per
    doc the partials are final and the fused rollup is a single map-only
    write (no exchange, no per-tier job)."""

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbuf, tsp = _blob_np(batch.column("time_blob"))
            vbuf, vsp = _blob_np(batch.column("value_blob"))
            ts, splits = decode_rows(tbuf, tsp)
            vals, _ = decode_rows(vbuf, vsp)
            counts = np.diff(splits)
            if len(ts) == 0:
                continue
            row_of = np.repeat(np.arange(batch.num_rows, dtype=np.int64), counts)
            prev: dict | None = None
            for t, window_us in enumerate(windows_us):
                if prev is not None and window_us % prev["window_us"] == 0:
                    # nested windows: CASCADE from the previous tier's group
                    # arrays (≈ points/window_size elements) instead of
                    # re-scanning the full point arrays — the per-point
                    # passes (window quotient + boundary compare + 3×
                    # reduceat over n) happen once, for the finest tier;
                    # every coarser tier costs only group-array traffic.
                    # Correct because points are time-sorted within a row
                    # (flush order), so fine groups within a row are too:
                    # the first fine group of a coarse window carries its
                    # earliest point, the last its latest.
                    src_row, src_win = prev["row"], prev["win"]
                    win = src_win // window_us * window_us
                    m = len(win)
                    change = np.empty(m, dtype=bool)
                    change[0] = True
                    np.logical_or(win[1:] != win[:-1],
                                  src_row[1:] != src_row[:-1], out=change[1:])
                    s = np.flatnonzero(change)
                    e = np.append(s[1:], m)
                    cur = {
                        "window_us": window_us,
                        "row": src_row[s],
                        "win": win[s],
                        "cnt": np.add.reduceat(prev["cnt"], s),
                        "sum": np.add.reduceat(prev["sum"], s),
                        "min": np.minimum.reduceat(prev["min"], s),
                        "max": np.maximum.reduceat(prev["max"], s),
                        "fts": prev["fts"][s],
                        "fv": prev["fv"][s],
                        "lts": prev["lts"][e - 1],
                        "lv": prev["lv"][e - 1],
                    }
                else:
                    win = ts // window_us * window_us
                    change = np.empty(len(win), dtype=bool)
                    change[0] = True
                    np.logical_or(
                        win[1:] != win[:-1], row_of[1:] != row_of[:-1], out=change[1:]
                    )
                    starts = np.flatnonzero(change)
                    ends = np.append(starts[1:], len(win))
                    cur = {
                        "window_us": window_us,
                        "row": row_of[starts],
                        "win": win[starts],
                        "cnt": ends - starts,
                        "sum": np.add.reduceat(vals, starts),
                        "min": np.minimum.reduceat(vals, starts),
                        "max": np.maximum.reduceat(vals, starts),
                        "fts": ts[starts],
                        "fv": vals[starts],
                        "lts": ts[ends - 1],
                        "lv": vals[ends - 1],
                    }
                grp_idx = pa.array(cur["row"])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(cur["row"]), t, dtype=np.int32)),
                        batch.column("doc_id").take(grp_idx),
                        batch.column("source").take(grp_idx),
                        pa.array(cur["win"]),
                        pa.array(cur["cnt"]),
                        pa.array(cur["sum"]),
                        pa.array(cur["min"]),
                        pa.array(cur["max"]),
                        pa.array(cur["fts"]),
                        pa.array(cur["fv"]),
                        pa.array(cur["lts"]),
                        pa.array(cur["lv"]),
                    ],
                    names=[
                        "tier", "doc_id", "source", "window_start", "cnt", "sum_v",
                        "min_v", "max_v", "first_ts", "first_v", "last_ts", "last_v",
                    ],
                )
                prev = cur

    return kern


def rollup_tiers(chunks_df: DataFrame, windows_us: list[int],
                 unique_doc_chunks: bool = False) -> DataFrame:
    """All retention tiers in ONE pass/job: rows carry ``tier`` = index into
    ``windows_us``.  Every tier is exact against the raw points for any
    windows (nested or not); for nested windows it equals a single-window
    rollup + ``promote()`` cascade (pytest-asserted), with one decode and
    one (or zero) exchange.

    ``unique_doc_chunks=True`` asserts every doc has exactly ONE chunk row
    (true for the output of a single flush, before any append/compaction):
    the kernel's per-(chunk, window) partials are then already final and
    the cross-chunk merge exchange is skipped."""
    src = chunks_df.select("doc_id", "source", "time_blob", "value_blob")
    partials = src.mapInArrow(
        _tiers_partials_kernel(windows_us), schema=TIERS_PARTIAL_SCHEMA
    )
    if unique_doc_chunks:
        return partials
    return _finalize(partials, extra_keys=("tier",))
