"""Physical-plan audits: the scale properties the engine is designed around
must be visible in the executed plan, not just hoped for.

- column pruning: stats-only rollup must scan ONLY stats columns (no blobs);
- predicate pushdown: filters reach the parquet scan as PushedFilters;
- broadcast: the TTL scalar join must be a BroadcastExchange/Join, never a
  sort-merge join on a 1-row side;
- whole-stage codegen: pure-SQL operators stay inside codegen'd stages;
- partition pruning: warehouse p_day filter prunes at the directory level.
"""

import contextlib
import io

import pytest

from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


def test_stats_rollup_prunes_blob_columns(spark, tmp_path):
    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.operators.rollup import rollup_from_stats
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    path = str(tmp_path / "chunks")
    flush(generate_tokens_df(spark, 50)).write.parquet(path)
    chunks = spark.read.parquet(path)
    plan = plan_of(rollup_from_stats(chunks))
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    assert "time_blob" not in scan_schema[0], scan_schema[0]
    assert "value_blob" not in scan_schema[0], scan_schema[0]


def test_filter_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter(F.col("value") > 100).select("event_id", "value")
    plan = plan_of(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThan(value,100.0)" in pushed[0], plan
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert "event_type" not in rs[0], rs[0]  # column pruning too


def test_ttl_scalar_join_is_broadcast(spark):
    from sorting_compressed_time_series_spark.queries import ttl_filter

    plan = plan_of(ttl_filter(spark, SF), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_rollup_cascade_has_single_shuffle_per_tier(spark, tmp_path):
    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.operators.rollup import (
        WINDOW_1M_US,
        promote,
        rollup_tiers,
    )
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    path = str(tmp_path / "chunks")
    flush(generate_tokens_df(spark, 50)).write.parquet(path)
    chunks = spark.read.parquet(path)
    t1 = rollup_tiers(chunks, [1_000_000]).drop("tier")
    plan = plan_of(t1, mode="simple")
    # partial+final HashAggregate around exactly one exchange
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" in plan
    t2 = promote(t1, WINDOW_1M_US)
    plan2 = plan_of(t2, mode="simple")
    assert plan2.count("Exchange hashpartitioning") == 2, plan2  # t1's + t2's


def test_pure_sql_operators_are_codegened(spark):
    from sorting_compressed_time_series_spark.queries import transform_filter_project

    plan = plan_of(transform_filter_project(spark, SF), mode="codegen")
    assert "Found 1 WholeStageCodegen" in plan, plan.splitlines()[0]


def test_warehouse_partition_pruning(spark, tmp_path):
    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse, with_p_day

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 * 86_400_000_000).alias("window_start"),
    )
    wh.write(with_p_day(df), "t", partition_by=("p_day",))
    back = wh.read(spark, "t").filter(F.col("p_day") >= 7)
    plan = plan_of(back)
    # partition filters appear as PartitionFilters on the scan, and the
    # pruned scan reads 3 of 10 directories
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "p_day" in pf[0], plan
    assert back.count() == 300


def test_exact_dedup_shuffles_hashes_not_text(spark):
    """exact_dedup's exchange must carry a fixed-width (hash, length) key,
    never the corpus text (at 10^12 docs the groupBy key would otherwise BE
    the corpus)."""
    from sorting_compressed_time_series_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(exact_dedup(docs), mode="simple")
    assert "xxhash64" in plan, plan  # the shuffle key is the 64-bit hash
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    for l in exchanges:
        # grouping keys are (bigint hash, int length) aliases — the raw
        # text column must never appear in the partitioning expression
        assert "norm_text" not in l and "text" not in l, l


def test_tier1_unique_chunks_is_shuffle_free(spark, tmp_path):
    """With one chunk per doc (single flush), a single-window (tier-1)
    rollup_tiers(unique_doc_chunks=True) must plan NO exchange at all:
    decode partials are final and the tier-1 write runs at scan
    parallelism."""
    import pandas as pd

    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.operators.rollup import rollup_tiers
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    path = str(tmp_path / "chunks")
    flush(generate_tokens_df(spark, 50)).write.parquet(path)
    chunks = spark.read.parquet(path)
    t1 = rollup_tiers(chunks, [1_000_000], unique_doc_chunks=True).drop("tier")
    plan = plan_of(t1, mode="simple")
    assert "Exchange" not in plan, plan
    # and it must equal the general (shuffled) path on this input
    a = t1.toPandas()
    b = rollup_tiers(chunks, [1_000_000]).drop("tier").toPandas()
    key = ["doc_id", "window_start"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_ivf_candidate_join_broadcasts_probes_not_corpus(spark):
    """The IVF candidate join must be a broadcast hash join with the PROBE
    side broadcast: the corpus is never exchanged on the (few-distinct-keys)
    cluster column — the r2-verdict parallelism ceiling / skew magnet."""
    from sorting_compressed_time_series_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(ivf_topk(emb, n_queries=4, k=3), mode="extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys, phys
    # no exchange may hash-partition on the cluster key (16 distinct values)
    bad = [
        l for l in phys.splitlines()
        if "Exchange hashpartitioning(cluster" in l
    ]
    assert not bad, "\n".join(bad)


def test_bucketed_chunk_table_compacts_without_exchange(spark, tmp_path):
    """Warehouse bucketed snapshots (bucket(doc_id, N) stand-in): the
    per-doc compaction groupBy must read the clustering from the scan —
    zero Exchange operators in the whole compaction plan."""
    from sorting_compressed_time_series_spark.operators.compaction import compact_chunks
    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse, with_p_day

    wh = Warehouse(str(tmp_path / "wh"))
    chunks = with_p_day(flush(generate_tokens_df(spark, 80)), "window_start")
    wh.write(chunks, "chunks_tier0", partition_by=("p_day",),
             bucket_by=("doc_id", 4))
    back = wh.read(spark, "chunks_tier0")
    plan = plan_of(compact_chunks(back.filter("tier = 0")))
    assert "Exchange" not in plan, plan
    # and the bucket-aware read is exact: same rows as a plain path read
    assert back.count() == chunks.count()


def test_fused_rollup_tiers_unique_is_shuffle_free(spark, tmp_path):
    """The fused multi-tier rollup in one-chunk-per-doc mode must be a pure
    map-only plan: no Exchange anywhere between the chunk scan and the
    per-tier partial rows (this is what lets the whole promotion cascade
    ride a single write job in bench), and on such input it must equal the
    general (shuffled) path."""
    import pandas as pd

    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.operators.rollup import rollup_tiers
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    path = str(tmp_path / "chunks")
    flush(generate_tokens_df(spark, 60)).write.parquet(path)
    chunks = spark.read.parquet(path)
    windows = [1_000_000, 60_000_000]
    plan = plan_of(rollup_tiers(chunks, windows, unique_doc_chunks=True))
    assert "Exchange" not in plan, plan
    a = rollup_tiers(chunks, windows, unique_doc_chunks=True).toPandas()
    b = rollup_tiers(chunks, windows).toPandas()
    key = ["tier", "doc_id", "window_start"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)[a.columns]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_merge_promotion_decodes_chunks_once(spark, tmp_path, monkeypatch):
    """A merge-mode promote_all builds every tier from ONE decode: the
    frame it commits has exactly one MapInArrow (the rollup_tiers kernel)
    over the chunk scan, with no decode subtree repeated per union branch,
    and every tier's manifest records the same single promote commit."""
    from sorting_compressed_time_series_spark.plans.pipeline import Pipeline
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    p = Pipeline(spark, wh, n_buckets=4)
    p.ingest(generate_tokens_df(spark, 30), 42)
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 10, start=25), 42, append=True)

    plans = []
    real = Warehouse.write_slices

    def spy(self, df, *args, **kwargs):
        plans.append(plan_of(df, mode="simple"))
        return real(self, df, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "write_slices", spy)
    assert {e["mode"] for e in p.promote_all()} == {"merge"}
    assert len(plans) == 1
    phys = plans[0].split("== Physical Plan ==")[-1]
    assert phys.count("MapInArrow") == 1, phys
    for spec in p.tiers:
        lineage = wh.manifest(spec.name)["lineage"]
        assert [e["op"] for e in lineage] == ["promote", "promote"], lineage


def test_cosine_dup_pairs_single_shuffle_no_cartesian(spark):
    """The exact embedding-dedup verifier must be the block-pair shape:
    exactly one hash-partitioning exchange (the (gi, gj) group shuffle of
    the replicated corpus) and NO cartesian / broadcast-nested-loop join
    anywhere — the O(n²) work lives inside the grouped kernel's matmuls,
    never in the join graph."""
    from sorting_compressed_time_series_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(cosine_dup_pairs(emb, tau=0.5, n_blocks=4), mode="extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    shuffles = [l for l in phys.splitlines() if "Exchange hashpartitioning" in l]
    assert len(shuffles) == 1, "\n".join(shuffles)
    assert "gi" in shuffles[0] and "gj" in shuffles[0]


def test_stratified_sample_is_map_only(spark):
    """Deterministic sampling must plan zero exchanges: membership is a
    pure function of the row, so the filter rides the parquet scan."""
    from sorting_compressed_time_series_spark.operators.curation import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(stratified_sample(docs, {"src0": 0.5}, 0.1), mode="simple")
    assert "Exchange" not in plan, plan


def test_decontaminate_broadcasts_benchmark_never_shuffles_text(spark):
    """The benchmark-gram join must broadcast the (eval-suite-sized) gram
    set; no exchange may carry the corpus text or its exploded shingles —
    the only shuffle is the pre-reduced per-doc (count, hits) aggregate."""
    from sorting_compressed_time_series_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 7)
    plan = plan_of(decontaminate(docs, bench), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # exactly two: the benchmark-side gram distinct (eval-suite-sized) and
    # the pre-reduced per-doc aggregate; the corpus-side exchange keys on
    # doc_id only — exploded corpus shingles/text never cross the wire
    assert len(shuffles) == 2, "\n".join(shuffles)
    assert sum("gram" in l for l in shuffles) == 1, "\n".join(shuffles)
    assert any(
        "doc_id" in l and "gram" not in l and "text" not in l for l in shuffles
    ), "\n".join(shuffles)


def test_quality_topp_joins_broadcast_cutoffs_no_corpus_sort(spark):
    """The per-stratum cutoff must come back to the corpus as a broadcast
    join, and no window/sort may partition by stratum alone (that would
    sort a whole source's corpus on one task at scale) — the only window
    keys are (stratum, quality) levels."""
    from sorting_compressed_time_series_spark.operators import textstats as TXT
    from sorting_compressed_time_series_spark.operators.curation import (
        quality_topp_filter,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        quality_topp_filter(docs, TXT.quality_expr(), keep_percent=40),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side row_number window must partition by BOTH stratum and
    # quality (stratum-alone would sort a whole source on one task); the
    # stratum-only exchange/window pair is the histogram running sum —
    # post-aggregate, quality-level-sized, fine
    rn_windows = [l for l in plan.splitlines() if "row_number()" in l]
    assert rn_windows, plan
    for l in rn_windows:
        assert "stratum" in l and "quality" in l, l


def test_input_schema_is_inferred_once_per_file_version(spark, tmp_path):
    """The registry's input reader infers a parquet file's schema once per
    file version: later reads launch no Spark job, a rewritten file is
    inferred again, and two paths never share a cached schema."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sorting_compressed_time_series_spark.queries import _read_parquet

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()), "v": [0.5, 1.5]}), path)
    assert _read_parquet(spark, path).schema == spark.read.parquet(path).schema

    sc = spark.sparkContext
    sc.setJobGroup("schema-once-read", "cached schema read", False)
    try:
        again = _read_parquet(spark, path)
        jobs = sc.statusTracker().getJobIdsForGroup("schema-once-read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert again.schema == spark.read.parquet(path).schema

    pq.write_table(pa.table({"k": pa.array([3], pa.int64()), "v": [2.5], "w": ["x"]}), path)
    rewritten = _read_parquet(spark, path)
    assert rewritten.schema == spark.read.parquet(path).schema
    assert [tuple(r) for r in rewritten.collect()] == [(3, 2.5, "x")]

    # same size and mtime, different path: the path alone tells them apart
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), a)
    pq.write_table(pa.table({"b": pa.array([1], pa.int64())}), b)
    ns = os.stat(a).st_mtime_ns
    os.utime(a, ns=(ns, ns))
    os.utime(b, ns=(ns, ns))
    assert os.stat(a).st_size == os.stat(b).st_size
    assert _read_parquet(spark, a).schema.names == ["a"]
    assert _read_parquet(spark, b).schema.names == ["b"]
