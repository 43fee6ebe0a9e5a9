"""TTL retention, per tier.

IoTDB semantics (reference ``SET TTL`` grammar IoTDBSqlParser.g4:310-312;
write-path check DataRegion.java:866-872, file-level expiry
DataRegion.java:1623-1637): rows older than now-ttl are rejected at ingest
and expired storage is dropped wholesale.

Spark expression: (a) an ingest-time filter (the ``ttl_filter`` registry
query), (b) a per-tier partition drop —
retention rewrites only the manifest-visible partition set, realized here as
``filter(p_day >= cutoff_day)`` + snapshot rewrite; with Iceberg this is a
metadata-only ``DELETE WHERE p_day < cutoff``. Coarser tiers get longer
TTLs (the whole point of multi-tier downsampling: raw ages out fast,
rollups live long)."""

from __future__ import annotations

from ..sources.warehouse import US_PER_DAY, Warehouse


def apply_retention(
    wh: Warehouse,
    spark,
    table: str,
    now_us: int,
    ttl_us: int,
    partition_col: str = "p_day",
) -> dict:
    """Drop expired partitions of a tier table; returns lineage summary.

    Metadata-only: whole ``p_day=N`` partition directories below the cutoff
    are removed from the live snapshot (``Warehouse.drop_partitions``) — no
    data rewrite, no full-table scan. Rows are counted only when something
    was actually dropped, and only over the surviving table (one pruned
    scan), to report lineage."""
    cutoff_day = (now_us - ttl_us) // US_PER_DAY
    dropped = wh.drop_partitions(table, partition_col, int(cutoff_day),
                                 op=f"retention<{cutoff_day}")
    out = {"table": table, "cutoff_day": int(cutoff_day),
           "partitions_dropped": dropped}
    if dropped:
        remaining = wh.partition_values(table, partition_col)
        out["rows_after"] = wh.read(spark, table).count() if remaining else 0
    return out
