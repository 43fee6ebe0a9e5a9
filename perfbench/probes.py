"""Layer probes for the traced run.

Each probe times one layer of the program on the workload's own data:

- ``flush.noop_s``: ``operators.ingest.flush`` written to the noop sink,
  i.e. flush without the warehouse write;
- ``flush.t1.kernel_s``: ``flush_kernel_batches`` called in this process,
  on one thread, over the corpus' Arrow batches of 20000 rows;
- ``arrow.passthrough_s``: a scan through an identity ``mapInArrow`` into
  noop, i.e. the cost of crossing into Python and back with no compute;
- ``codecs.t1.*``: ``codecs.batched`` on one thread over the flushed
  series: DELTA+VARINT encode and decode, the bytes they store per point,
  and Gorilla (values) plus delta-of-delta (timestamps) round trips;
- ``rollup.tiers_noop_s``: ``rollup_tiers`` over the tier-0 chunks for the
  1 s / 1 min / 1 h windows, into noop.

Every probe runs ``REPS`` times and reports the median.
"""

from __future__ import annotations

import statistics
import time
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa

from sorting_compressed_time_series_spark.codecs.batched import (
    decode_rows,
    dod_decode_rows,
    dod_encode_rows,
    encode_rows,
    gorilla_decode_rows,
    gorilla_encode_rows,
)
from sorting_compressed_time_series_spark.codecs.chunk import CODEC_DELTA, CODEC_VARINT
from sorting_compressed_time_series_spark.operators.ingest import flush, flush_kernel_batches
from sorting_compressed_time_series_spark.operators.rollup import (
    WINDOW_1H_US,
    WINDOW_1M_US,
    _blob_np,
    rollup_tiers,
)
from sorting_compressed_time_series_spark.plans.pipeline import WINDOW_1S_US

REPS = 3
BATCH_ROWS = 20000


def _median_time(fn: Callable[[], object]) -> float:
    walls = []
    for _ in range(REPS):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _identity(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_probes(tokens_df, chunks_df, seed: int) -> dict[str, float]:
    """All probes over the tokens table ``tokens_df`` and the tier-0 chunk
    table ``chunks_df`` it was flushed into."""
    out: dict[str, float] = {}
    out["flush.noop_s"] = _median_time(lambda: _noop(flush(tokens_df, seed)))
    out["arrow.passthrough_s"] = _median_time(
        lambda: _noop(tokens_df.mapInArrow(_identity, schema=tokens_df.schema)))
    out["rollup.tiers_noop_s"] = _median_time(lambda: _noop(rollup_tiers(
        chunks_df.filter("tier = 0"), [WINDOW_1S_US, WINDOW_1M_US, WINDOW_1H_US])))

    batches = tokens_df.toArrow().to_batches(max_chunksize=BATCH_ROWS)
    chunks: list[pa.RecordBatch] = []
    out["flush.t1.kernel_s"] = _median_time(
        lambda: chunks.__setitem__(slice(None), flush_kernel_batches(iter(batches), seed)))
    table = pa.Table.from_batches(chunks)
    tbuf, tsp = _blob_np(table.column("time_blob"))
    vbuf, vsp = _blob_np(table.column("value_blob"))
    ts, splits = decode_rows(tbuf, tsp)
    vals, _ = decode_rows(vbuf, vsp)
    vals32 = vals.astype(np.int32)  # flush encodes the int32 tokens
    points = len(ts)

    def decode() -> None:
        decode_rows(tbuf, tsp)
        decode_rows(vbuf, vsp)

    def encode() -> None:
        encode_rows(ts, splits, CODEC_DELTA)
        encode_rows(vals32, splits, CODEC_VARINT)

    out["codecs.t1.decode_rows_s"] = _median_time(decode)
    out["codecs.t1.encode_rows_s"] = _median_time(encode)
    out["codecs.bytes_per_point"] = (len(tbuf) + len(vbuf)) / max(points, 1)

    patterns = vals.astype(np.float64).view(np.uint64)

    def gorilla_dod() -> None:
        gorilla_decode_rows(*gorilla_encode_rows(patterns, splits))
        dod_decode_rows(*dod_encode_rows(ts, splits))

    out["codecs.t1.gorilla_values_per_s"] = points / _median_time(gorilla_dod)
    return out
