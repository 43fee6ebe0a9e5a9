"""Training-data pipeline operator oracles that SQL can't express:
MinHash-LSH recall vs exact Jaccard, SimHash hamming locality, LSH-ANN
recall vs brute force, multimodal stub behavior."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.operators import dedup as DD
from sorting_compressed_time_series_spark.operators import multimodal as MM
from sorting_compressed_time_series_spark.operators import similarity as SIM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # add exact-duplicate and near-duplicate planted pairs
    dup = base.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        base.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra trailing words here")))
    )
    return base.unionByName(dup).unionByName(near).cache()


def test_exact_dedup_finds_planted_dups(spark, docs):
    out = DD.exact_dedup(docs).toPandas()
    assert (out.n_dups >= 2).sum() >= 5
    assert out.n_dups.sum() == docs.count()


def test_minhash_lsh_recall(spark, docs):
    exact = DD.jaccard_pairs(docs, n=3, tau=0.6).toPandas()
    cand = DD.minhash_lsh_candidates(docs, num_perm=32, bands=16, n=3).toPandas()
    cand_pairs = set(zip(cand.a, cand.b))
    exact_pairs = set(zip(exact.a, exact.b))
    assert exact_pairs, "planted near-dups must produce high-jaccard pairs"
    recall = len(exact_pairs & cand_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"LSH recall {recall}"


def test_minhash_estimates_track_jaccard(spark, docs):
    exact = DD.jaccard_pairs(docs, n=3, tau=0.3).toPandas().set_index(["a", "b"])
    est = DD.minhash_lsh_candidates(docs, num_perm=32, bands=16, n=3).toPandas().set_index(["a", "b"])
    joined = exact.join(est, how="inner")
    assert len(joined) > 0
    err = (joined.jaccard - joined.est_jaccard).abs().mean()
    assert err < 0.25, f"minhash estimate error {err}"


def test_simhash_locality(spark, docs):
    fp = DD.simhash(docs).toPandas().set_index("doc_id")["simhash"]

    def hamming(a, b):
        return bin((int(a) & 0xFFFFFFFFFFFFFFFF) ^ (int(b) & 0xFFFFFFFFFFFFFFFF)).count("1")

    base_ids = sorted(fp.index[fp.index < 100000])[:5]
    near = [hamming(fp[i], fp[i + 200000]) for i in base_ids if i + 200000 in fp.index]
    rng = np.random.default_rng(1)
    ids = fp.index.to_numpy()
    rand = [
        hamming(fp[a], fp[b])
        for a, b in zip(rng.choice(ids, 40), rng.choice(ids, 40))
        if a != b
    ]
    assert np.mean(near) < np.mean(rand), (np.mean(near), np.mean(rand))


def test_simhash_pairs_complete_for_low_hamming(spark, docs):
    """4×16-bit banding is pigeonhole-COMPLETE for hamming ≤ 3: any pair
    with ≤3 differing bits agrees exactly on ≥1 band. With no degenerate
    buckets at this scale, recall vs brute-force hamming must be 100%,
    and every reported pair must verify (popcount ≤ 3)."""
    fp = DD.simhash(docs).toPandas().set_index("doc_id")["simhash"]

    def hamming(a, b):
        return bin((int(a) & 0xFFFFFFFFFFFFFFFF) ^ (int(b) & 0xFFFFFFFFFFFFFFFF)).count("1")

    ids = sorted(fp.index)
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if hamming(fp[a], fp[b]) <= 3
    }
    out = DD.simhash_pairs(docs, max_hamming=3).toPandas()
    got = set(zip(out.a, out.b))
    assert truth, "planted near-dups must land within hamming 3"
    assert got == truth, (len(got), len(truth), got ^ truth)
    assert (out.hamming <= 3).all()


def test_ann_lsh_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bf = SIM.brute_force_topk(emb, n_queries=10, k=5).toPandas()
    lsh = SIM.lsh_topk(emb, n_queries=10, k=20, n_bits=6, probe_radius=2).toPandas()
    bf_pairs = set(zip(bf.query_id, bf.neighbor_id))
    lsh_pairs = set(zip(lsh.query_id, lsh.neighbor_id))
    recall = len(bf_pairs & lsh_pairs) / len(bf_pairs)
    # 6-bit multi-probe (radius 2) on 64-dim random vectors: probes cover
    # ~22/64 buckets; high-cosine neighbors concentrate in the near buckets
    assert recall >= 0.5, f"ANN LSH recall {recall}"


def test_ann_ivf_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    bf = SIM.brute_force_topk(emb, n_queries=10, k=5).toPandas()
    ivf = SIM.ivf_topk(emb, n_queries=10, k=20, n_centroids=16, nprobe=6).toPandas()
    bf_pairs = set(zip(bf.query_id, bf.neighbor_id))
    ivf_pairs = set(zip(ivf.query_id, ivf.neighbor_id))
    recall = len(bf_pairs & ivf_pairs) / len(bf_pairs)
    # probing 6/16 lists on 64-dim random vectors: high-cosine neighbors
    # concentrate in the query's nearest lists
    assert recall >= 0.5, f"IVF recall {recall}"
    # determinism: the quantizer is hash-seeded, no RNG state
    again = SIM.ivf_topk(emb, n_queries=10, k=20, n_centroids=16, nprobe=6).toPandas()
    assert ivf.sort_values(["query_id", "rank"]).reset_index(drop=True).equals(
        again.sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


def test_multimodal_stub_and_plumbing(spark, docs):
    payload = MM.to_binary_payload(docs)
    stats = MM.binary_stats(payload).toPandas()
    want = docs.select("doc_id", F.length(F.encode("text", "utf-8")).alias("n")).toPandas()
    merged = stats.merge(want, on="doc_id")
    assert (merged.n_bytes == merged.n).all()
    with pytest.raises(NotImplementedError):
        MM.decode_media(payload)


def test_multimodal_frame_sample(spark, docs):
    """frame_sample == python slicing oracle: every k-th complete
    fixed-size frame, exact bytes, per doc."""
    fb, k = 16, 3
    payload = MM.to_binary_payload(docs)
    got = MM.frame_sample(payload, frame_bytes=fb, every_k=k).toPandas()
    raw = docs.select("doc_id", "text").toPandas()
    want = {}
    for _, r in raw.iterrows():
        b = r.text.encode("utf-8")
        for fi in range(0, len(b) // fb, k):
            want[(r.doc_id, fi)] = b[fi * fb:(fi + 1) * fb]
    got_map = {
        (r.doc_id, r.frame_idx): bytes(r.frame) for _, r in got.iterrows()
    }
    assert got_map == want
    assert all(len(v) == fb for v in got_map.values())


@pytest.fixture(scope="module")
def emb_with_dups(spark):
    """sf0.001 embeddings + planted near-duplicates: copies of the first 5
    vectors with a small deterministic perturbation (cosine 0.92–0.99)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pert = F.transform(
        "embedding",
        lambda x, i: x + (F.col("vec_id") % 7 + i % 3).cast("float") * F.lit(0.01),
    )
    dup = (
        emb.filter(F.col("vec_id") < 5)
        .withColumn("embedding", pert)
        .withColumn("vec_id", F.col("vec_id") + 100000)
    )
    return emb.unionByName(dup).cache()


def _np_cosine_pairs(df, tau):
    pdf = df.select("vec_id", "embedding").toPandas()
    ids = pdf.vec_id.to_numpy()
    m = np.array(pdf.embedding.tolist(), dtype=np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    s = m @ m.T
    iu = np.triu_indices(len(ids), 1)
    hit = s[iu] >= tau
    a = np.minimum(ids[iu[0][hit]], ids[iu[1][hit]])
    b = np.maximum(ids[iu[0][hit]], ids[iu[1][hit]])
    return set(zip(a.tolist(), b.tolist()))


def test_cosine_dup_pairs_matches_bruteforce(spark, emb_with_dups):
    """Block-pair distributed exact == numpy all-pairs, at a tau that
    keeps both planted near-dups and random-tail background pairs."""
    want = _np_cosine_pairs(emb_with_dups, 0.35)
    got = SIM.cosine_dup_pairs(emb_with_dups, tau=0.35, n_blocks=5).toPandas()
    assert set(zip(got.a, got.b)) == want
    assert want, "planted dups must appear"


def test_cosine_dup_pairs_no_driver_collect(spark, emb_with_dups, monkeypatch):
    """The exact verifier must never pull the corpus to the driver: the
    whole build+execute runs with DataFrame.collect forbidden."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side collect in cosine_dup_pairs")

    monkeypatch.setattr(DataFrame, "collect", boom)
    n = SIM.cosine_dup_pairs(emb_with_dups, tau=0.35, n_blocks=4).count()
    assert n > 0


def test_cosine_dup_pairs_lsh_recall_on_near_dups(spark, emb_with_dups):
    """The LSH candidate-first path recovers the planted high-cosine
    near-dups (banding bound ≈ 1 at cosine ≥ 0.95) while pruning the
    quadratic candidate space; verified pairs are a subset of exact."""
    exact = _np_cosine_pairs(emb_with_dups, 0.9)
    assert len(exact) >= 5
    got = SIM.cosine_dup_pairs_lsh(
        emb_with_dups, tau=0.9, n_tables=12, n_bits=6
    ).toPandas()
    got_pairs = set(zip(got.a, got.b))
    recall = len(exact & got_pairs) / len(exact)
    assert recall >= 0.9, f"LSH dup recall {recall}"
    assert got_pairs <= _np_cosine_pairs(emb_with_dups, 0.9 - 1e-9)


def test_cosine_dup_pairs_lsh_bucket_cap_drops_degenerate_hubs(spark):
    """A degenerate hub (many identical vectors, all landing in one bucket
    in every table) above bucket_cap is dropped from candidate generation
    instead of re-quadratifying the join; normal-sized near-dup clusters
    below the cap still verify."""
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    hub = (
        base.filter(F.col("vec_id") == 0)
        .select(F.explode(F.sequence(F.lit(1), F.lit(60))).alias("k"), "embedding")
        .select((F.col("k") + 500000).alias("vec_id"),
                "embedding", F.lit(0).alias("label"))
    )
    emb = base.unionByName(hub)
    # cap far below the hub size: hub pairs must vanish, cheaply
    capped = SIM.cosine_dup_pairs_lsh(
        emb, tau=0.999, n_tables=4, n_bits=4, bucket_cap=50
    ).toPandas()
    hub_pairs = capped[(capped.a >= 500000) & (capped.b >= 500000)]
    assert len(hub_pairs) == 0
    # with a permissive cap the same hub produces its full clique
    uncapped = SIM.cosine_dup_pairs_lsh(
        emb, tau=0.999, n_tables=4, n_bits=4, bucket_cap=10**6
    ).toPandas()
    hub_uncapped = uncapped[(uncapped.a >= 500000) & (uncapped.b >= 500000)]
    assert len(hub_uncapped) == 60 * 59 // 2


def test_cosine_dup_pairs_lsh_zero_norm_vectors_never_pair(spark):
    """Zero-norm embeddings score 0 (clamped denominator), never NaN:
    Spark SQL orders NaN above every number, so an unclamped 0/0 would
    PASS `score >= tau`; all-zero vectors collide in every sign-LSH
    table, so a small zero cluster would emit spurious near-dup pairs.
    Mirrors the 1e-12 clamp in the exact cosine_dup_pairs kernel."""
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(base.select("embedding").first()[0])
    zeros = spark.range(700000, 700010).select(
        F.col("id").alias("vec_id"),
        F.array([F.lit(0.0).cast("float")] * dim).alias("embedding"),
        F.lit(0).alias("label"),
    )
    emb = base.unionByName(zeros)
    got = SIM.cosine_dup_pairs_lsh(
        emb, tau=0.9, n_tables=4, n_bits=4, bucket_cap=2000
    ).toPandas()
    zero_pairs = got[(got.a >= 700000) | (got.b >= 700000)]
    assert len(zero_pairs) == 0


def test_cosine_dup_pairs_lsh_no_driver_collect(spark, emb_with_dups, monkeypatch):
    """The candidate-first path must stay fully distributed too: bucket
    kernel, candidate join, and the Arrow verify all run with
    DataFrame.collect forbidden (same guard as the exact block-pair)."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side collect in cosine_dup_pairs_lsh")

    monkeypatch.setattr(DataFrame, "collect", boom)
    n = SIM.cosine_dup_pairs_lsh(
        emb_with_dups, tau=0.9, n_tables=12, n_bits=6
    ).count()
    assert n > 0


def _uf_components(pairs):
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


_DUP_SHAPES = {
    "chain": [(i, i + 1) for i in range(60)],
    "cliques": [(10 * g + i, 10 * g + j)
                for g in range(5) for i in range(4) for j in range(i + 1, 4)],
    "mixed": [(0, 50), (50, 3), (7, 9), (9, 7), (100, 2), (2, 0), (33, 33)],
    "empty": [],
}


@pytest.mark.parametrize("shape,threshold", [
    pytest.param("chain", "default", id="chain"),
    pytest.param("cliques", "default", id="cliques"),
    pytest.param("mixed", "default", id="mixed"),
    pytest.param("empty", "default", id="empty"),
    pytest.param("chain", "at", id="chain-at_threshold"),
    pytest.param("chain", "over", id="chain-over_threshold"),
    pytest.param("mixed", "at", id="mixed-at_threshold"),
    pytest.param("mixed", "over", id="mixed-over_threshold"),
])
def test_dup_groups_matches_union_find(spark, shape, threshold):
    """Alternating-star CC == union-find on chains (worst case for round
    count), cliques (the shape dedup actually produces), a mix with
    shared-min collisions, and no pairs at all. ``at``/``over`` set
    local_threshold to exactly / one below the edge count (self-loops
    dropped): the first must take the driver path, whose result is an
    Arrow-backed local relation (no pickled-row scan), the second the
    distributed rounds, whose result is a checkpointed RDD scan."""
    pairs = _DUP_SHAPES[shape]
    edges = [(a, b) for a, b in pairs if a != b]
    want = _uf_components(edges)
    kw = {"at": {"local_threshold": len(edges)},
          "over": {"local_threshold": len(edges) - 1}}.get(threshold, {})
    df = spark.createDataFrame(pairs, "a long, b long")
    out = DD.dup_groups(df, **kw)
    assert out.schema.simpleString() == "struct<doc_id:bigint,group_id:bigint>"
    got = {r.doc_id: r.group_id for r in out.toLocalIterator()}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    if threshold == "over":
        assert "ExistingRDD" in plan, plan
    else:
        assert "LocalTableScan" in plan, plan
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_dedup_keep_list_end_to_end(spark, docs):
    """Compose: jaccard pairs -> groups -> keep list. Exactly one keep per
    component (the min id), every unpaired doc kept."""
    pairs = DD.jaccard_pairs(docs, n=3, tau=0.2, max_df=50)
    keep = DD.dedup_keep_list(docs, pairs).toPandas()
    assert len(keep) == docs.count()
    pdf = pairs.toPandas()
    comp = _uf_components(list(zip(pdf.a.tolist(), pdf.b.tolist())))
    for _, r in keep.iterrows():
        if r.doc_id in comp:
            assert r.keep == (comp[r.doc_id] == r.doc_id)
        else:
            assert bool(r.keep)


def test_incremental_dedup_batch_vs_corpus(spark, docs):
    """Planted structure: corpus = base docs; batch = 3 whitespace-noised
    corpus copies (dropped), 4 fresh docs (kept), one fresh doc duplicated
    intra-batch (collapses to the smaller batch id, n_dups=2)."""
    corpus = docs
    noised = (
        corpus.orderBy("doc_id").limit(3)
        .select((F.col("doc_id") + 500_000).alias("doc_id"),
                F.concat(F.lit("   "), F.col("text"), F.lit("  ")).alias("text"))
    )
    fresh = spark.createDataFrame(
        [(900_000 + i, f"totally fresh document number {i}") for i in range(4)],
        "doc_id long, text string",
    )
    intra = fresh.filter(F.col("doc_id") == 900_001).select(
        (F.col("doc_id") + 50).alias("doc_id"), "text"
    )
    batch = noised.unionByName(fresh).unionByName(intra)

    out = DD.incremental_dedup(
        batch.select("doc_id", "text"), corpus.select("doc_id", "text")
    ).toPandas().sort_values("keep_id").reset_index(drop=True)

    # corpus copies gone, all 4 fresh keep_ids survive, intra-batch pair
    # collapsed onto 900001 with n_dups=2
    assert out.keep_id.tolist() == [900_000, 900_001, 900_002, 900_003]
    assert out.set_index("keep_id").n_dups.to_dict() == {
        900_000: 1, 900_001: 2, 900_002: 1, 900_003: 1,
    }

    # shuffle fallback (non-broadcastable backfill batch) agrees exactly
    out2 = DD.incremental_dedup(
        batch.select("doc_id", "text"), corpus.select("doc_id", "text"),
        broadcast_batch=False,
    ).toPandas().sort_values("keep_id").reset_index(drop=True)
    assert out2.equals(out)


def test_incremental_dedup_corpus_never_exchanged(spark, docs):
    """Scale invariant of the broadcast path: the corpus subtree must reach
    its (broadcast-)semi-join with ZERO Exchange operators above the scan —
    total exchanged bytes are O(|batch|) however big the corpus is."""
    batch = docs.limit(10).select((F.col("doc_id") + 700_000).alias("doc_id"), "text")
    out = DD.incremental_dedup(batch, docs.select("doc_id", "text"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly the two planned broadcasts (batch keys into the semi-join,
    # hit keys into the anti-join) and no hash exchange on the corpus side:
    # the only hashpartitioning exchanges allowed are the batch groupBy's
    # and the hits distinct's, both bounded by batch/hit cardinality
    assert plan.count("BroadcastExchange") == 2, plan
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert semi and all("Broadcast" in l for l in semi), plan
    assert anti and all("Broadcast" in l for l in anti), plan


def test_incremental_cosine_dedup_vs_bruteforce(spark, emb_with_dups):
    """Batch = the planted near-dups (+100000 ids, cos 0.92-0.99 to corpus
    vectors 0..4) plus 3 genuinely-held-out corpus rows re-idded; corpus =
    everything else. Survivors must equal the numpy brute-force answer,
    and every planted near-dup must be dropped at tau=0.9."""
    emb = emb_with_dups
    batch = emb.filter(F.col("vec_id") >= 100000).unionByName(
        emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 8))
        .withColumn("vec_id", F.col("vec_id") + 200000)
    )
    corpus = emb.filter(F.col("vec_id") < 100000)

    got = sorted(
        r.vec_id
        for r in SIM.incremental_cosine_dedup(batch, corpus, tau=0.9).collect()
    )

    bp = batch.toPandas()
    cp = corpus.toPandas()
    bm = np.array(bp.embedding.tolist(), dtype=np.float64)
    cm = np.array(cp.embedding.tolist(), dtype=np.float64)
    bm /= np.maximum(np.linalg.norm(bm, axis=1, keepdims=True), 1e-12)
    cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
    matched = (bm @ cm.T >= 0.9).any(axis=1)
    want = sorted(bp.vec_id.to_numpy()[~matched].tolist())
    assert got == want
    # the re-idded exact corpus copies (cos 1.0) are always dropped,
    # the planted 0.92-0.99 near-dups are dropped at tau=0.9
    assert all(v < 200000 or v >= 200003 for v in got)
    assert not any(100000 <= v < 100005 for v in got)


def test_substring_dup_stats_planted(spark):
    """Hand-computable corpus: shared 5-gram spans across docs mark exactly
    the overlapping positions; a unique doc scores 0; short docs (<5 words)
    emit no row."""
    boiler = "please subscribe to our newsletter today"          # 6 words
    rows = [
        ("d1", f"alpha beta gamma delta {boiler}"),              # 10 words
        ("d2", f"one two three four five six {boiler}"),         # 12 words
        ("d3", "completely unique words nowhere else repeated"), # 6 words
        ("d4", "tiny doc"),                                      # 2 words -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
           for r in DD.substring_dup_stats(df, n=5).collect()}
    # the 6-word boilerplate contributes two shared 5-grams per doc
    # (the two grams fully inside the boiler span; straddling grams
    # differ between docs)
    assert got["d1"] == (6, 2)
    assert got["d2"] == (8, 2)
    assert got["d3"] == (2, 0)
    assert "d4" not in got
    fr = {r["doc_id"]: r["dup_frac"]
          for r in DD.substring_dup_stats(df, n=5).collect()}
    assert fr["d1"] == round(2 / 6, 6) and fr["d3"] == 0.0


def test_substring_dup_stats_multiplicity_and_plan(spark):
    """Intra-doc repetition counts every position (multiset semantics),
    and no exchange carries gram strings (hash-keyed shuffles only)."""
    rep = "a b c d e " * 3                      # 15 words: 'a b c d e' x3
    df = spark.createDataFrame(
        [("r1", rep.strip()), ("u1", "v w x y z")],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"])
           for r in DD.substring_dup_stats(df, n=5).collect()}
    # every 5-gram of the periodic doc recurs (period 5 < doc len):
    # 11 positions, all duplicated (each gram appears 2-3 times)
    assert got["r1"] == (11, 11)
    assert got["u1"] == (1, 0)
    plan = DD.substring_dup_stats(df, n=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "xxhash64" in plan


@pytest.mark.parametrize("shape", ["chain", "cliques"])
def test_dup_groups_distributed_path_matches_local(spark, shape):
    """local_threshold=0 forces the alternating-star distributed rounds;
    they must produce the identical component labeling as the size-gated
    local union-find fast path (the default at these sizes)."""
    pairs = _DUP_SHAPES[shape]
    df = spark.createDataFrame(pairs, "a long, b long")
    local = {r.doc_id: r.group_id for r in DD.dup_groups(df).toLocalIterator()}
    dist = {r.doc_id: r.group_id
            for r in DD.dup_groups(df, local_threshold=0).toLocalIterator()}
    assert dist == local == _uf_components(pairs)
