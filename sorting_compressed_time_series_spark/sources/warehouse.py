"""Parquet-backed warehouse with manifest commits — Iceberg-shaped storage
without the Iceberg jars (not in this image; the layout and commit protocol
are designed so swapping `Warehouse` for an Iceberg catalog is a one-file
change: same table names, same partition columns, same snapshot semantics).

Commit protocol (atomic, resumable):
- writers land parquet under ``<table>/snap-<n>/`` (Spark writes + _SUCCESS)
- ``_manifest.json`` names the ONE live snapshot dir plus watermark and
  lineage entries; readers only ever read the snapshot the manifest names
- a commit = write new snapshot dir, then atomically replace the manifest
  (os.replace). A crash before the manifest swap leaves the old snapshot
  live; re-running the (deterministic) job re-creates the same new
  snapshot — which is what makes tier promotion checkpoint-resumable.

Partitioning: chunk/tier tables carry a ``p_day`` column (UTC day of
window_start) used as the physical partition key — the analogue of
Iceberg ``days(window_start)`` — so TTL retention is a partition drop and
time-range queries prune at the directory level. At 100 TB you would add
``bucket(doc_id, N)`` as a second partition level; locally one level is
enough to prove pruning.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

US_PER_DAY = 86_400_000_000


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshot": None, "version": 0, "watermark_us": None, "lineage": []}
        with open(p) as f:
            return json.load(f)

    def _swap_manifest(self, table: str, m: dict) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # the atomic commit point

    def _commit(self, table: str, snapshot_dir: str, watermark_us: int | None,
                lineage_entry: dict, schema_json: str | None = None,
                bucket_spec: list | None = None) -> None:
        m = self.manifest(table)
        old_dirs = ([m["snapshot"]] if m["snapshot"] else []) + m.get("segments", [])
        m["snapshot"] = snapshot_dir
        m["segments"] = []
        m["pending_appends"] = []
        m["version"] += 1
        if watermark_us is not None:
            m["watermark_us"] = watermark_us
        if schema_json is not None:
            # persisted so a fully-expired table still reads as an EMPTY
            # frame with the right schema (retention is a partition drop
            # that can hollow out every live dir)
            m["schema"] = schema_json
        m["bucket_spec"] = bucket_spec  # [col, n_buckets] or None
        m["lineage"] = (m["lineage"] + [dict(lineage_entry, ts=time.time(),
                                             version=m["version"])])[-50:]
        self._swap_manifest(table, m)
        for d in old_dirs:
            if d != snapshot_dir:
                shutil.rmtree(os.path.join(self.root, table, d), ignore_errors=True)

    # -- io ----------------------------------------------------------------
    def _catalog_name(self, table: str) -> str:
        # session-catalog identifier for bucket-aware reads of this table
        return "wh_" + "".join(c if c.isalnum() else "_" for c in
                               os.path.abspath(os.path.join(self.root, table)))

    def write(self, df: DataFrame, table: str, *, partition_by: tuple[str, ...] = (),
              watermark_us: int | None = None, op: str = "overwrite",
              bucket_by: tuple[str, int] | None = None) -> None:
        """Commit a new snapshot. With ``bucket_by=(col, n)`` the snapshot is
        written as a Spark BUCKETED table (hash-clustered + sorted by ``col``
        within each of ``n`` buckets — the stand-in for Iceberg
        ``bucket(col, n)``): any same-session groupBy/join on ``col`` then
        reads the clustering from the scan and needs NO exchange (compaction
        and per-key MERGE promotion become shuffle-free, see
        operators/compaction.py). Cross-session reads fall back to plain
        parquet — still correct, just re-shuffling."""
        m = self.manifest(table)
        snap = f"snap-{m['version'] + 1}"
        path = os.path.join(self.root, table, snap)
        # 4 MB parquet row groups keep blob-bearing snapshots SPLITTABLE:
        # with the 128 MB default, a table written from k tasks caps every
        # later scan at k tasks (one row group per file) — at high
        # parallelism that is one unbalanced task wave. Small row groups
        # cost ~nothing on stat/partial tables (they are smaller than one
        # group anyway) and let decode scans split chunk files.
        if bucket_by is not None:
            col, n = bucket_by
            name = self._catalog_name(table)
            spark = df.sparkSession
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            w = df.write.mode("overwrite").option("path", path)
            w = w.option("parquet.block.size", 4 << 20)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.bucketBy(n, col).sortBy(col).format("parquet").saveAsTable(name)
            bucket_spec = [col, n]
        else:
            w = df.write.mode("overwrite").option("parquet.block.size", 4 << 20)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            bucket_spec = None
        self._commit(table, snap, watermark_us,
                     {"op": op, "partition_by": partition_by,
                      "bucket_by": bucket_spec},
                     schema_json=df.schema.json(), bucket_spec=bucket_spec)

    def write_slices(self, df: DataFrame, slice_col: str,
                     tables: dict[int, str], *,
                     partition_by: tuple[str, ...] = (),
                     watermarks: dict[int, int] | None = None,
                     op: str = "promote") -> None:
        """ONE Spark write job commits MANY tables.

        ``df`` is written once, partitioned by ``(slice_col, *partition_by)``,
        into a staging dir; each ``slice_col=<v>`` partition directory is
        then RENAMED into table ``tables[v]``'s next snapshot and committed
        with that table's own manifest + watermark. Pure filesystem moves
        plus per-table atomic manifest swaps — no extra jobs, no read-backs
        (the Iceberg analogue: one data write, N table commits). A crash
        between the per-table commits leaves earlier tables live and later
        ones unpromoted; the deterministic per-tier promotion path finishes
        them on rerun. A slice with zero rows commits a hollow snapshot
        that reads back as an empty frame via the persisted schema."""
        assert slice_col not in partition_by
        staging = os.path.join(
            self.root, "_staging",
            "slices-" + "-".join(
                f"{tbl}.v{self.manifest(tbl)['version'] + 1}"
                for tbl in tables.values()),
        )
        shutil.rmtree(staging, ignore_errors=True)
        try:
            w = df.write.mode("overwrite").option("parquet.block.size", 4 << 20)
            w = w.partitionBy(slice_col, *partition_by)
            w.parquet(staging)
            slice_schema = df.drop(slice_col).schema.json()
            for val, tbl in tables.items():
                src = os.path.join(staging, f"{slice_col}={val}")
                snap = f"snap-{self.manifest(tbl)['version'] + 1}"
                dst = os.path.join(self.root, tbl, snap)
                shutil.rmtree(dst, ignore_errors=True)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if os.path.isdir(src):
                    os.rename(src, dst)
                else:
                    os.makedirs(dst, exist_ok=True)
                wm = (watermarks or {}).get(val)
                self._commit(tbl, snap, wm,
                             {"op": op, "partition_by": tuple(partition_by),
                              "bucket_by": None},
                             schema_json=slice_schema, bucket_spec=None)
        finally:
            # the staging name depends on the table versions, so a rerun
            # after a failed commit never reuses (or removes) this dir
            shutil.rmtree(staging, ignore_errors=True)

    def append_segment(self, df: DataFrame, table: str, *,
                       partition_by: tuple[str, ...] = (), op: str = "append") -> str:
        """Append-only commit: land the new rows as an extra SEGMENT dir and
        add it to the manifest — the existing snapshot is untouched (no
        table rewrite; Iceberg's append = manifest-add is exactly this).
        The segment is also recorded under ``pending_appends`` so the next
        promotion can MERGE just the affected keys instead of recomputing
        every tier. A crash before the manifest swap leaves an orphan dir
        the manifest never names; the rerun overwrites it."""
        m = self.manifest(table)
        if m["snapshot"] is None:
            raise FileNotFoundError(f"table {table} has no base snapshot to append to")
        seg = f"seg-{m['version'] + 1}"
        path = os.path.join(self.root, table, seg)
        w = df.write.mode("overwrite").option("parquet.block.size", 4 << 20)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        m["segments"] = m.get("segments", []) + [seg]
        m["pending_appends"] = m.get("pending_appends", []) + [seg]
        m["version"] += 1
        m["lineage"] = (m["lineage"] + [{"op": op, "segment": seg, "ts": time.time(),
                                         "version": m["version"]}])[-50:]
        self._swap_manifest(table, m)
        return seg

    def _live_dirs(self, table: str) -> list[str]:
        m = self.manifest(table)
        return ([m["snapshot"]] if m["snapshot"] else []) + m.get("segments", [])

    def _empty_frame(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Empty DataFrame with the persisted schema (None for pre-schema
        manifests)."""
        m = self.manifest(table)
        if not m.get("schema"):
            return None
        from pyspark.sql.types import StructType

        return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))

    @staticmethod
    def _is_hollow(path: str) -> bool:
        """True if the dir has no data entries (retention can drop every
        partition of a snapshot/segment, leaving only _SUCCESS)."""
        return not (os.path.isdir(path)
                    and any(not e.startswith("_") for e in os.listdir(path)))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        m = self.manifest(table)
        if m["snapshot"] is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        # bucket-aware fast path: single bucketed snapshot registered in this
        # session's catalog → read through the catalog so downstream
        # groupBy/join on the bucket column needs no exchange
        spec = m.get("bucket_spec")
        if spec and not m.get("segments"):
            name = self._catalog_name(table)
            if spark.catalog.tableExists(name):
                return spark.table(name)
        paths = [os.path.join(self.root, table, d) for d in self._live_dirs(table)]
        live = [p for p in paths if not self._is_hollow(p)]
        if not live:
            empty = self._empty_frame(spark, table)
            if empty is not None:
                return empty
            live = paths[:1]  # pre-schema manifest: legacy behavior
        dfs = [spark.read.parquet(p) for p in live]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read_segment(self, spark: SparkSession, table: str, segment: str) -> DataFrame:
        path = os.path.join(self.root, table, segment)
        if self._is_hollow(path):
            # retention can hollow out a pending segment; treat it as empty
            empty = self._empty_frame(spark, table)
            if empty is not None:
                return empty
        return spark.read.parquet(path)

    def pending_appends(self, table: str) -> list[str]:
        return self.manifest(table).get("pending_appends", [])

    def clear_pending(self, table: str) -> None:
        """Mark appended segments as promoted (they stay live data dirs)."""
        m = self.manifest(table)
        if m.get("pending_appends"):
            m["pending_appends"] = []
            self._swap_manifest(table, m)

    def exists(self, table: str) -> bool:
        return self.manifest(table)["snapshot"] is not None

    def partition_values(self, table: str, partition_col: str = "p_day") -> list[int]:
        """Partition values present in the live snapshot + segments
        (directory listing — the manifest-level partition index, no data
        scan)."""
        prefix = f"{partition_col}="
        vals: set[int] = set()
        for snap in self._live_dirs(table):
            base = os.path.join(self.root, table, snap)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if d.startswith(prefix):
                    try:
                        vals.add(int(d[len(prefix):]))
                    except ValueError:
                        continue
        return sorted(vals)

    def drop_partitions(self, table: str, partition_col: str, cutoff: int,
                        op: str = "retention") -> list[int]:
        """Metadata-level partition drop: remove whole ``<col>=<v>`` partition
        directories with ``v < cutoff`` from the live snapshot and record the
        op in the manifest — NO table rewrite, no Spark job (the Iceberg
        analogue is a metadata-only ``DELETE WHERE p_day < cutoff`` that
        drops data files wholesale; reference file-level expiry
        DataRegion.java:1623-1637). Returns the dropped partition values."""
        m = self.manifest(table)
        if m["snapshot"] is None:
            return []
        dropped = [v for v in self.partition_values(table, partition_col)
                   if v < cutoff]
        for snap in self._live_dirs(table):
            base = os.path.join(self.root, table, snap)
            for v in dropped:
                shutil.rmtree(os.path.join(base, f"{partition_col}={v}"),
                              ignore_errors=True)
        if dropped:
            # a bucketed snapshot's session-catalog registration caches the
            # pre-drop file listing — reads through it would hit
            # FileNotFoundException on the removed partition dirs. Clear the
            # bucket spec so read() falls back to a fresh parquet listing of
            # the surviving dirs (correct, just re-shuffling until the next
            # bucketed rewrite re-registers the table).
            m["bucket_spec"] = None
            m["version"] += 1
            m["lineage"] = (m["lineage"] + [
                {"op": op, "dropped": dropped, "ts": time.time(),
                 "version": m["version"]}
            ])[-50:]
            tmp = self._manifest_path(table) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=1)
            os.replace(tmp, self._manifest_path(table))
        return dropped

    def reset_watermark(self, table: str) -> None:
        """Invalidate a tier's promotion watermark (e.g. after an append of
        data that may fall below it); the next promotion recomputes fully —
        deterministic and idempotent, so correctness is unaffected."""
        if not self.exists(table):
            return
        m = self.manifest(table)
        m["watermark_us"] = None
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path(table))

    def watermark(self, table: str) -> int | None:
        return self.manifest(table)["watermark_us"]


def with_p_day(df: DataFrame, ts_col: str = "window_start") -> DataFrame:
    return df.withColumn("p_day", (F.col(ts_col) / F.lit(US_PER_DAY)).cast("bigint"))
