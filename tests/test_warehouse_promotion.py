"""Warehouse commit protocol + checkpoint-resumable promotion + TTL + gapfill.

Oracles per FIXTURES.md F3: interrupted promotion resumed from checkpoint
must equal an uninterrupted run; post-TTL tables equal a filtered
expectation; gap-fill modes equal pandas ffill/interp/fillna."""

import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.operators.gapfill import gapfill
from sorting_compressed_time_series_spark.operators.rollup import (
    WINDOW_1H_US,
    WINDOW_1M_US,
    decode_points,
    promote,
    rollup_tiers,
    with_avg,
)
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline, TierSpec
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

N_DOCS = 120
SEED = 42


def _tiers():
    return [
        TierSpec("tier1_1m", WINDOW_1M_US, ttl_us=None),
        TierSpec("tier2_1h", WINDOW_1H_US, ttl_us=None),
    ]


def _collect(df, keys=("doc_id", "window_start")):
    pdf = df.toPandas().sort_values(list(keys)).reset_index(drop=True)
    return pdf.drop(columns=[c for c in ("p_day",) if c in pdf.columns])


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_full")))
    p = Pipeline(spark, wh, _tiers())
    toks = generate_tokens_df(spark, N_DOCS, SEED)
    p.ingest(toks, SEED)
    p.promote_all()
    return {s.name: _collect(wh.read(spark, s.name)) for s in _tiers()}, wh


def test_resume_equals_uninterrupted(spark, tmp_path_factory, uninterrupted):
    want, wh_full = uninterrupted
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_resume")))
    p = Pipeline(spark, wh, _tiers())
    toks = generate_tokens_df(spark, N_DOCS, SEED)
    p.ingest(toks, SEED)
    # interrupted run: promote only up to the middle of the data span
    chunks = wh.read(spark, "chunks_tier0")
    lo, hi = chunks.agg(F.min("min_ts"), F.max("max_ts")).collect()[0]
    p.promote_all(up_to_us=(lo + hi) // 2)
    mid_rows = wh.read(spark, "tier1_1m").count()
    assert 0 < mid_rows < len(want["tier1_1m"])
    # resume to completion
    p.promote_all()
    for name in want:
        got = _collect(wh.read(spark, name))
        pd.testing.assert_frame_equal(
            got[want[name].columns], want[name], check_dtype=False
        )


def test_rerun_promotion_is_idempotent(spark, uninterrupted):
    want, wh = uninterrupted
    p = Pipeline(spark, wh, _tiers())
    p.promote_all()  # no-op: watermark already at completion
    for name in want:
        got = _collect(wh.read(spark, name))
        pd.testing.assert_frame_equal(got[want[name].columns], want[name], check_dtype=False)


def test_retention_drops_old_partitions(spark, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_ttl")))
    tiers = [TierSpec("tier1_1m", WINDOW_1M_US, ttl_us=12 * 3_600_000_000)]
    p = Pipeline(spark, wh, tiers)
    toks = generate_tokens_df(spark, N_DOCS, SEED)
    p.ingest(toks, SEED)
    p.promote_all()
    before = wh.read(spark, "tier1_1m").toPandas()
    now_us = int(before.window_start.max())
    summary = p.retain(now_us)[0]
    after = wh.read(spark, "tier1_1m").toPandas()
    cutoff_day = (now_us - tiers[0].ttl_us) // 86_400_000_000
    want = before[before.window_start // 86_400_000_000 >= cutoff_day]
    assert summary["rows_after"] == len(want)
    assert len(after) == len(want)
    assert after.window_start.min() >= cutoff_day * 86_400_000_000


def test_gapfill_modes_match_pandas(spark):
    # FIXTURES.md F3 "gap-fill": tier rows with deleted windows; each series
    # has interior gaps, leading/trailing anchors, and null-heavy stretches
    rng = np.random.default_rng(3)
    rows = []
    for d in range(25):
        present = sorted(rng.choice(60, size=rng.integers(2, 20), replace=False))
        for w in present:
            rows.append((f"doc{d:02d}", int(w) * WINDOW_1M_US, float(rng.integers(-50, 50))))
    tier1 = spark.createDataFrame(rows, "doc_id string, window_start bigint, avg_v double")
    for mode, const in [("previous", None), ("linear", None), ("constant", 0.0)]:
        got = gapfill(tier1, WINDOW_1M_US, "avg_v", mode, constant=const).toPandas()
        got = got.sort_values(["doc_id", "window_start"]).reset_index(drop=True)
        out = []
        for doc, grp in got.groupby("doc_id"):
            s = grp.set_index("window_start")["raw_value"]
            full = s  # spine already complete in `got`
            if mode == "previous":
                exp = full.ffill()
            elif mode == "linear":
                idx = full.index.to_numpy().astype(float)
                exp = pd.Series(
                    np.interp(idx, idx[full.notna()], full[full.notna()],
                              left=np.nan, right=np.nan),
                    index=full.index,
                )
                exp[full.notna()] = full[full.notna()]
            else:
                exp = full.fillna(const)
            out.append(np.allclose(
                grp["filled"].to_numpy(dtype=float),
                exp.to_numpy(dtype=float),
                equal_nan=True,
            ))
        assert all(out), mode
    # the synthetic data must actually contain gaps for this test to matter
    assert (got["was_missing"]).any()


def test_incremental_append_equals_oneshot(spark, tmp_path_factory):
    one = Warehouse(str(tmp_path_factory.mktemp("wh_oneshot")))
    p1 = Pipeline(spark, one, _tiers())
    p1.ingest(generate_tokens_df(spark, 80, SEED), SEED)
    p1.promote_all()

    inc = Warehouse(str(tmp_path_factory.mktemp("wh_incr")))
    p2 = Pipeline(spark, inc, _tiers())
    p2.ingest(generate_tokens_df(spark, 50, SEED), SEED)
    p2.promote_all()
    p2.ingest(generate_tokens_df(spark, 30, SEED, start=50), SEED, append=True)
    summary = p2.promote_all(collect_stats=True)

    # the append must be a per-key MERGE, not a full recompute: every tier
    # keeps the non-appended docs' rows and recomputes only the appended
    # docs' windows (+ the watermark tail)
    for entry in summary:
        assert entry["mode"] == "merge", entry
        assert entry["kept"] > 0, entry
        # 30 docs appended onto 50: recomputed windows stay well below the
        # untouched majority (a full recompute would have kept == 0)
        recomputed = entry["recomputed_dirty"] + entry["recomputed_tail"]
        assert recomputed < entry["kept"], entry

    for s in _tiers():
        a = _collect(one.read(spark, s.name))
        b = _collect(inc.read(spark, s.name))
        pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)

    # a third, empty-delta promotion is a no-op at every tier
    assert [e["mode"] for e in p2.promote_all()] == ["noop", "noop"]


def test_fused_promote_equals_cascade(spark, uninterrupted):
    """promote_all() (ONE rollup_tiers decode + ONE write via
    Warehouse.write_slices) must produce the same tier tables as the
    operator-level reference cascade rollup_tiers(chunks, [w0]) → promote(),
    with each watermark at the end of the tier's last window."""
    want, wh = uninterrupted
    chunks = wh.read(spark, "chunks_tier0")
    data_max = chunks.agg(F.max("max_ts")).collect()[0][0]
    ref = None
    for s in _tiers():
        ref = (rollup_tiers(chunks, [s.window_us]).drop("tier") if ref is None
               else promote(ref, s.window_us))
        pd.testing.assert_frame_equal(want[s.name], _collect(ref)[want[s.name].columns],
                                      check_dtype=False)
        assert wh.watermark(s.name) == (data_max // s.window_us + 1) * s.window_us


def test_non_nested_tiers_match_raw_points(spark, tmp_path_factory):
    """Tiers whose windows are not multiples of each other (40 s, then
    1 min): every promoted tier must equal a pandas group-by over the raw
    points. A 1-min tier cascaded from the 40-s tier would be wrong: a
    40-s window that straddles a minute boundary lands whole in one
    minute."""
    tiers = [TierSpec("tier1_40s", 40_000_000), TierSpec("tier2_1m", WINDOW_1M_US)]
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_nonnested")))
    p = Pipeline(spark, wh, tiers)
    p.ingest(generate_tokens_df(spark, 30, SEED), SEED)
    assert [e["mode"] for e in p.promote_all()] == ["full", "full"]
    raw = decode_points(wh.read(spark, "chunks_tier0")).toPandas()
    raw = raw.sort_values(["doc_id", "ts"], kind="stable")
    for spec in tiers:
        w = spec.window_us
        want = raw.assign(window_start=raw.ts // w * w).groupby(
            ["doc_id", "window_start"]).agg(
            cnt=("value", "size"),
            sum_v=("value", "sum"),
            min_v=("value", "min"),
            max_v=("value", "max"),
            first_v=("value", "first"),
            last_v=("value", "last"),
        ).reset_index()
        got = _collect(wh.read(spark, spec.name))
        assert len(got) == len(want), spec.name
        for col in ["cnt", "sum_v", "min_v", "max_v", "first_v", "last_v"]:
            assert np.array_equal(got[col].to_numpy(), want[col].to_numpy()), (spec.name, col)


@pytest.mark.parametrize("mode", ["full", "merge"])
def test_resume_after_failed_tier_commit(spark, tmp_path_factory, monkeypatch, mode):
    """A crash between write_slices' per-tier commits (injected on the
    second tier table): the first tier is committed, the second is not and
    appends stay pending; a rerun of promote_all must give the tier tables
    and watermarks of an uninterrupted run, and clear the pending appends
    only once every tier has committed."""
    tiers = _tiers()
    real_commit = Warehouse._commit

    def failing_commit(self, table, *args, **kwargs):
        if table == tiers[1].name:
            raise OSError("injected commit failure")
        return real_commit(self, table, *args, **kwargs)

    def run(fail: bool) -> Warehouse:
        wh = Warehouse(str(tmp_path_factory.mktemp(f"wh_{mode}_{fail}")))
        p = Pipeline(spark, wh, tiers)
        p.ingest(generate_tokens_df(spark, 50, SEED), SEED)
        if mode == "merge":
            p.promote_all()
            # docs 40..49 are delivered again, 50..59 are new
            p.ingest(generate_tokens_df(spark, 20, SEED, start=40), SEED, append=True)
        if fail:
            before = [wh.manifest(s.name) for s in tiers]
            with monkeypatch.context() as m:
                m.setattr(Warehouse, "_commit", failing_commit)
                with pytest.raises(OSError, match="injected"):
                    p.promote_all()
            assert wh.manifest(tiers[0].name)["version"] == before[0]["version"] + 1
            assert wh.manifest(tiers[1].name) == before[1]
            assert bool(wh.pending_appends("chunks_tier0")) == (mode == "merge")
            assert not os.listdir(os.path.join(wh.root, "_staging"))
        summary = p.promote_all()
        if fail:
            want_modes = ["merge", "merge"] if mode == "merge" else ["noop", "full"]
            assert [e["mode"] for e in summary] == want_modes
        assert not wh.pending_appends("chunks_tier0")
        return wh

    ref, got = run(fail=False), run(fail=True)
    for s in tiers:
        a = _collect(ref.read(spark, s.name))
        b = _collect(got.read(spark, s.name))
        pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)
        assert got.watermark(s.name) == ref.watermark(s.name)


def test_pipeline_compact_after_append(spark, tmp_path_factory):
    """Maintenance compaction after appends: every multi-chunk doc merges
    to ONE chunk, the compacted warehouse's tiers are untouched-and-valid
    (a re-promotion is a no-op and the tier tables equal the pre-compaction
    ones), and compacting over un-promoted appends is refused."""
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_cmp")))
    p = Pipeline(spark, wh, _tiers())
    p.ingest(generate_tokens_df(spark, 50, SEED), SEED)
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 30, SEED, start=50), SEED, append=True)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pending appends"):
        p.compact()

    p.promote_all()
    before = {s.name: _collect(wh.read(spark, s.name)) for s in _tiers()}
    # the appended docs wrote a second segment; force >=2 chunks for a doc
    # by appending the SAME doc range again (older data is fine)
    p.ingest(generate_tokens_df(spark, 10, SEED, start=50), SEED, append=True)
    p.promote_all()
    before = {s.name: _collect(wh.read(spark, s.name)) for s in _tiers()}

    summary = p.compact()
    assert summary["compacted_docs"] >= 10, summary
    per_doc = (
        wh.read(spark, "chunks_tier0").filter("tier = 0")
        .groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_doc == 1
    # tiers untouched and a re-promotion is a no-op
    assert all(e["mode"] == "noop" for e in p.promote_all())
    for s in _tiers():
        after = _collect(wh.read(spark, s.name))
        pd.testing.assert_frame_equal(before[s.name], after[before[s.name].columns], check_dtype=False)


def test_drop_partitions_on_bucketed_table_reads_back(spark, tmp_path_factory):
    """Retention on a BUCKETED snapshot: the session-catalog registration
    caches the pre-drop file listing, so drop_partitions must invalidate
    the bucket fast path or reads die with FileNotFoundException
    (chunks_tier0 is bucketed by default, so TTL hit this in-session)."""
    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path_factory.mktemp("wh_bktdrop")))
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("p_day"),
        (F.col("id") * 2).alias("v"),
    )
    wh.write(df, "chunks", partition_by=("p_day",), bucket_by=("doc_id", 4))
    dropped = wh.drop_partitions("chunks", "p_day", 2)
    assert dropped == [0, 1]
    out = wh.read(spark, "chunks").toPandas()
    assert sorted(out.p_day.unique().tolist()) == [2, 3, 4]
    assert len(out) == 60
