"""The full engine pipeline as a resumable batch plan.

The reference's Continuous Query scheduler (confignode CQScheduleTask,
reference confignode/.../manager/cq/CQScheduleTask.java:67-160) re-runs a
window aggregate every ``every_interval`` over ``[now-start_offset,
now-end_offset)``.  Our equivalent is deterministic *watermark-driven
promotion*: each tier's manifest records the watermark up to which windows
have been promoted; a promotion run selects only COMPLETE windows between
the old and new watermark, computes them, appends, and commits data +
watermark atomically (see sources/warehouse.py).  Re-running after a crash
repeats the same deterministic window range → identical table (the
checkpoint-resume oracle in tests/test_warehouse_promotion.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ingest import flush
from ..operators.retention import apply_retention
from ..operators.rollup import WINDOW_1H_US, WINDOW_1M_US, rollup_tiers
from ..sources.warehouse import Warehouse, with_p_day


@dataclass
class TierSpec:
    name: str
    window_us: int
    ttl_us: int | None = None  # None = keep forever


# the cascade matches the token corpus' time scale (points every ~1 ms,
# docs spanning up to ~25 min): finer tiers age out fast, coarse ones live on
WINDOW_1S_US = 1_000_000
DEFAULT_TIERS = [
    TierSpec("tier1_1s", WINDOW_1S_US, ttl_us=7 * 86_400_000_000),
    TierSpec("tier2_1m", WINDOW_1M_US, ttl_us=90 * 86_400_000_000),
    TierSpec("tier3_1h", WINDOW_1H_US, ttl_us=None),
]


@dataclass
class Pipeline:
    spark: SparkSession
    warehouse: Warehouse
    tiers: list[TierSpec] = field(default_factory=lambda: list(DEFAULT_TIERS))
    # hash-bucket count for the chunk table (Iceberg ``bucket(doc_id, N)``
    # stand-in): snapshots are written hash-clustered by doc_id so that
    # same-session compaction / per-doc merges read the clustering from the
    # scan and need no exchange. Sized to local cores; a real cluster sizes
    # it to (table bytes / target task bytes).
    n_buckets: int = 32

    # --- stage 1: ingest+flush ------------------------------------------
    def ingest(self, tokens_df: DataFrame, seed: int = 42,
               partitions: int | None = None, append: bool = False) -> DataFrame:
        chunks = with_p_day(flush(tokens_df, seed, partitions), "window_start")
        if append and self.warehouse.exists("chunks_tier0"):
            # manifest-add only: the existing snapshot is untouched and the
            # next promotion MERGEs just the appended docs' windows
            self.warehouse.append_segment(chunks, "chunks_tier0",
                                          partition_by=("p_day",), op="append")
        else:
            self.warehouse.write(chunks, "chunks_tier0", partition_by=("p_day",),
                                 watermark_us=None, op="ingest",
                                 bucket_by=("doc_id", self.n_buckets))
        return self.warehouse.read(self.spark, "chunks_tier0")

    # --- stage 2: promotion with checkpoint ------------------------------
    def promote_all(self, up_to_us: int | None = None,
                    collect_stats: bool = False) -> list[dict]:
        """Promote every tier up to its complete windows with ONE decode
        and ONE write.

        Each tier's horizon ``complete`` is the end of its last complete
        window; its watermark ``lo`` is where the previous run stopped.
        Four modes per tier, all deterministic and idempotent:
        - **noop**: ``lo >= complete`` and no appends are pending;
        - **full** (no watermark yet): compute every window;
        - **incremental** (watermark advance): keep the rows below ``lo``
          and compute [lo, complete);
        - **merge** (pending appended segments): additionally recompute
          the windows below ``lo`` of JUST the appended ("dirty") docs and
          splice them over the kept rows (anti-join) — appends never
          trigger a full recompute (per-key MERGE INTO on Iceberg).

        Every promoted tier comes out of one ``rollup_tiers`` pass over the
        tier-0 chunks. The pass reads every chunk if some tier is full;
        otherwise only the chunks with ``max_ts`` ≥ the smallest ``lo``
        (a window at or past a watermark only has points from those) plus
        every chunk of a dirty doc, each chunk once. One predicate per tier
        then keeps its fresh rows:
        full ``window_start < complete``; incremental
        ``lo <= window_start < complete``; merge, the incremental range OR
        (dirty doc AND ``window_start < lo``). The kept old rows are unioned
        in and ``Warehouse.write_slices`` commits every promoted tier from
        the one write. Pending appends are cleared only after every tier
        has committed, so a rerun after a crash between the per-tier
        commits finishes the job (committed tiers are noop or re-merge).

        Returns a per-tier summary; with ``collect_stats`` it includes
        recomputed/kept row counts (extra count jobs — tests only)."""
        wh = self.warehouse
        chunks = wh.read(self.spark, "chunks_tier0")
        data_max = chunks.agg(F.max("max_ts")).collect()[0][0]
        pending = wh.pending_appends("chunks_tier0")
        dirty = None
        if pending:
            seg = reduce(DataFrame.unionByName, [
                wh.read_segment(self.spark, "chunks_tier0", s) for s in pending])
            dirty = F.broadcast(
                seg.select("doc_id").distinct().withColumn("dirty", F.lit(True)))

        summary: list[dict] = []
        todo = []  # (spec, mode, lo, complete, summary entry) per promoted tier
        for spec in self.tiers:
            if up_to_us is None:
                # final batch run: every window is complete (data is closed)
                complete = (data_max // spec.window_us + 1) * spec.window_us
            else:
                # incremental run: only windows fully below the horizon
                complete = (min(up_to_us, data_max) // spec.window_us) * spec.window_us
            lo = wh.watermark(spec.name)
            if lo is None:
                mode = "full"
            elif lo >= complete and not pending:
                summary.append({"tier": spec.name, "mode": "noop"})
                continue
            else:
                mode = "merge" if pending else "incremental"
            entry = {"tier": spec.name, "mode": mode, "watermark_us": int(complete)}
            summary.append(entry)
            todo.append((spec, mode, lo, int(complete), entry))
        if not todo:
            return summary

        win = F.col("window_start")
        is_dirty = F.col("dirty").isNotNull()
        src = chunks
        los = [lo for _, _, lo, _, _ in todo]
        if None not in los:  # no full tier: skip chunks wholly below every lo
            lo_min = min(los)
            if dirty is None:
                src = src.filter(F.col("max_ts") >= F.lit(lo_min))
            else:
                src = src.join(dirty, "doc_id", "left").filter(
                    (F.col("max_ts") >= F.lit(lo_min)) | is_dirty)
        fresh = rollup_tiers(src, [spec.window_us for spec, *_ in todo])
        if dirty is not None:
            fresh = fresh.join(dirty, "doc_id", "left")
        keep = None  # CASE tier WHEN t THEN <tier t's predicate> ...
        for t, (_, mode, lo, complete, _) in enumerate(todo):
            cond = win < F.lit(complete)
            if lo is not None:
                cond = cond & (win >= F.lit(lo))
            if mode == "merge":
                cond = cond | (is_dirty & (win < F.lit(lo)))
            is_t = F.col("tier") == t
            keep = F.when(is_t, cond) if keep is None else keep.when(is_t, cond)
        fresh = fresh.filter(keep).drop("dirty")

        out = fresh
        watermarks = {}
        for t, (spec, mode, lo, complete, entry) in enumerate(todo):
            mine = fresh.filter(F.col("tier") == t)
            if lo is None:
                watermarks[t] = complete
                stats_dfs = {"recomputed": mine}
            else:
                # an append of old-only data can leave complete < watermark;
                # never regress the checkpoint
                watermarks[t] = max(complete, lo)
                old = wh.read(self.spark, spec.name).drop("p_day").filter(win < F.lit(lo))
                if mode == "merge":
                    old = old.join(dirty, "doc_id", "left_anti")
                    stats_dfs = {"kept": old,
                                 "recomputed_dirty": mine.filter(win < F.lit(lo)),
                                 "recomputed_tail": mine.filter(win >= F.lit(lo))}
                else:
                    stats_dfs = {"kept": old, "recomputed": mine}
                out = out.unionByName(old.withColumn("tier", F.lit(t)))
            if collect_stats:
                # count BEFORE the write: the commit retires the old
                # snapshot these frames still read from
                entry.update({k: df.count() for k, df in stats_dfs.items()})
        wh.write_slices(with_p_day(out), "tier",
                        {t: spec.name for t, (spec, *_) in enumerate(todo)},
                        partition_by=("p_day",), watermarks=watermarks,
                        op="promote")
        if pending:
            wh.clear_pending("chunks_tier0")
        return summary

    # --- maintenance: compaction ------------------------------------------
    def compact(self, min_chunks: int = 2) -> dict:
        """Merge every series with ≥ ``min_chunks`` tier-0 chunks into one
        chunk (the reference's compaction stage; page-merge kernel: splice
        fast path for disjoint chunks, stable k-merge for overlap) and
        commit a consolidated snapshot. The point set is preserved exactly,
        so promoted tiers stay valid and are untouched. Refuses to run
        over un-promoted appends: the consolidating write would retire the
        pending-segment bookkeeping the next MERGE promotion needs."""
        from pyspark.sql import functions as F  # local: keep module header lean

        from ..operators.compaction import compact_chunks

        wh = self.warehouse
        if wh.pending_appends("chunks_tier0"):
            raise ValueError("promote_all() before compact(): pending appends")
        chunks = wh.read(self.spark, "chunks_tier0")
        multi = (
            chunks.groupBy("doc_id").count()
            .filter(F.col("count") >= min_chunks)
            .select("doc_id")
        )
        n_multi = multi.count()
        if n_multi == 0:
            return {"compacted_docs": 0}
        merged = compact_chunks(chunks.join(F.broadcast(multi), "doc_id", "left_semi"))
        # single-chunk docs' rows stay untouched
        singles = chunks.drop("p_day").join(F.broadcast(multi), "doc_id", "left_anti")
        out = singles.unionByName(merged)
        # re-cluster on write: the consolidated snapshot is bucketed again,
        # so the NEXT compaction/merge over it is exchange-free even after
        # appends broke the previous clustering
        wh.write(with_p_day(out), "chunks_tier0", partition_by=("p_day",),
                 watermark_us=None, op=f"compact:{n_multi}",
                 bucket_by=("doc_id", self.n_buckets))
        return {"compacted_docs": int(n_multi)}

    # --- stage 3: retention ----------------------------------------------
    def retain(self, now_us: int) -> list[dict]:
        out = []
        for spec in self.tiers:
            if spec.ttl_us is not None and self.warehouse.exists(spec.name):
                out.append(
                    apply_retention(self.warehouse, self.spark, spec.name, now_us, spec.ttl_us)
                )
        return out

    # --- one-shot ----------------------------------------------------------
    def run(self, tokens_df: DataFrame, seed: int = 42, now_us: int | None = None) -> None:
        self.ingest(tokens_df, seed)
        self.promote_all()
        if now_us is not None:
            self.retain(now_us)
