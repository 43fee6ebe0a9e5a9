"""Deduplication operators for training-data pipelines.

Four families, all deterministic (seeded hashes only):
- exact: normalize → hash-groupBy (one shuffle, map-side combined);
- n-gram Jaccard: shingle explode → self-join on shingle → pair counts
  (the exact pairwise similarity, pushed through joins — no UDFs);
- MinHash + LSH banding: md5-derived 2-universal permutations (portable:
  the DuckDB gate recomputes them exactly) → per-band bucket join →
  candidates → exact Jaccard verify (the 100 TB path: candidate
  generation is linear in corpus size, quadratic only within buckets);
- SimHash: 64-bit sign-aggregated fingerprint over portable md5 word
  hashes, hamming-adjacent buckets.

At cluster scale the shingle explode is the skew hazard (stopword-like
shingles fan out); `jaccard_pairs` salts nothing but caps per-shingle
fan-out with a frequency filter — the standard trick: a shingle shared by
more than `max_df` docs carries ~no signal and would dominate the join.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

NORMALIZE = "lower(regexp_replace(trim(text), '\\\\s+', ' '))"

# --- engine-portable hashing -------------------------------------------------
# MinHash permutations and SimHash bits are derived from md5 (computable
# identically in Spark AND DuckDB) instead of Spark-only xxhash64, so the
# driver's DuckDB gate can recompute the exact signatures: one md5 per
# shingle/word, then 2-universal linear permutations (a*x + b) mod p with
# p = 2^31 - 1.  All intermediates stay < 2^63 (a, b, x < 2^31 after the
# mod), so the arithmetic is exact under Spark's ANSI mode and in DuckDB
# BIGINT — no wraparound semantics anywhere.
MINHASH_P = 2_147_483_647  # 2^31 - 1, Mersenne prime

_M64 = (1 << 64) - 1


def _perm_seed_mix(i: int) -> int:
    """Deterministic 64-bit mix of a small counter, used ONLY to derive the
    minhash permutation constants below.  NOT the same function as
    functions/hashing.splitmix64 (that one ADDS the golden constant before
    mixing; this one MULTIPLIES the counter by it) — don't swap one for the
    other when extending an oracle: the constants flow to the SQL through
    minhash_perm_constants(), never recomputed SQL-side."""
    z = (i * 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def minhash_perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the i-th permutation, a in [1, p-1],
    b in [0, p-1] — shared by the Spark operator and the oracle SQL."""
    return [
        (
            _perm_seed_mix(2 * i + 1) % (MINHASH_P - 1) + 1,
            _perm_seed_mix(2 * i + 2) % MINHASH_P,
        )
        for i in range(num_perm)
    ]


def normalized(docs: DataFrame) -> DataFrame:
    return docs.withColumn("norm_text", F.expr(NORMALIZE))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) docs; keep the smallest id.

    Groups by TWO independently-salted xxhash64 values plus the exact
    length — a fixed-width 20-byte, effectively 128-bit shuffle key — NOT
    by the text itself: at corpus scale the groupBy key would otherwise
    carry the entire corpus through the exchange.  A single 64-bit hash is
    not enough at the target scale: at 10^12 docs the expected number of
    same-hash pairs is ~n²/2^65 ≈ 3·10⁴ before length conditioning; with
    the second salted hash the expectation drops to ~n²/2^129 ≈ 10⁻¹⁵, and
    a collision would only over-merge a dedup group (never corrupt source
    data)."""
    return (
        normalized(docs)
        .groupBy(
            F.xxhash64("norm_text").alias("h"),
            F.xxhash64(F.lit(0x9E3779B9), "norm_text").alias("h2"),
            F.length("norm_text").alias("len"),
        )
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
        .select("keep_id", "n_dups")
    )


def _flat_list(b: pa.RecordBatch, col: str) -> tuple[pa.Array, np.ndarray]:
    """(flattened child array, zero-based offsets) of a list column."""
    arr = b.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return arr.flatten(), offs - offs[0]


def _doc_ngrams(words: list, offs: np.ndarray, n: int,
                distinct: bool) -> tuple[list, np.ndarray]:
    """Per-doc word n-grams from the batch's flattened word list.
    Returns (flat gram list, per-doc gram counts). Exact twin of the SQL
    oracles' ``ws[i] || ' ' || ws[i+1] …`` construction (space-joined,
    first-occurrence order when distinct)."""
    ndocs = len(offs) - 1
    counts = np.zeros(ndocs, dtype=np.int64)
    out: list = []
    for di in range(ndocs):
        ws = words[offs[di]:offs[di + 1]]
        if n == 1:
            g = list(dict.fromkeys(ws)) if distinct else ws
        else:
            k = len(ws) - n + 1
            if k <= 0:
                continue
            gi = (" ".join(ws[i:i + n]) for i in range(k))
            g = list(dict.fromkeys(gi)) if distinct else list(gi)
        counts[di] = len(g)
        out.extend(g)
    return out, counts


def _words_frame(docs: DataFrame, id_col: str) -> tuple[DataFrame, str]:
    """(doc_id, w words-array) projection + the id column's DDL type —
    normalize/split stay JVM-side (codegen, column pruning); everything
    downstream of the word array is batch-vectorized Python."""
    d = normalized(docs).select(
        F.col(id_col).alias("doc_id"), F.split("norm_text", " ").alias("w")
    )
    return d, d.schema["doc_id"].dataType.simpleString()


def word_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                  distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per doc — distinct by default (n=1 → word
    set); ``distinct=False`` keeps every POSITION's gram (multiplicity
    preserved, for substring-duplication stats).

    The n-gram construction runs in a ``mapInArrow`` kernel over the
    JVM-split word arrays: the previous pure-JVM ``zip_with`` chain
    (chosen over ``transform(sequence…)``, which inlined the regex-split
    ~20× over) still cost ~7 ms/doc warm in whole-stage codegen — the
    UTF8String array churn dominates — vs ~0.05 ms/doc for batch string
    joins in the Python worker. Only (doc_id, words) cross the boundary,
    map-side; shuffle shape of every consumer is unchanged (they hash or
    explode the shingles before any exchange)."""
    d, id_type = _words_frame(docs, id_col)

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            flat, offs = _flat_list(b, "w")
            grams, counts = _doc_ngrams(flat.to_pylist(), offs, n, distinct)
            goffs = np.zeros(len(counts) + 1, dtype=np.int32)
            np.cumsum(counts, out=goffs[1:])
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pa.ListArray.from_arrays(
                        pa.array(goffs), pa.array(grams, type=pa.string())
                    ),
                ],
                names=["doc_id", "shingles"],
            )

    return d.mapInArrow(kern, schema=f"doc_id {id_type}, shingles array<string>")


def jaccard_pairs(
    docs: DataFrame, n: int = 3, tau: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """All pairs (a<b) with |A∩B| / |A∪B| >= tau on word n-gram shingles."""
    sh = word_shingles(docs, n).withColumn("sz", F.size("shingles"))
    # cache the exploded shingle set: it feeds the hot-shingle scan AND both
    # sides of the self-join — without it the normalize/shingle expressions
    # (the CPU-dominant part) re-run up to 3×.  The shingle TEXT never
    # leaves the map side: the join/count key is its 64-bit hash, so every
    # exchange (hot-shingle count, anti-join, self-join) moves fixed-width
    # rows — at corpus scale the n-gram strings would otherwise dominate
    # shuffle bytes.  A collision only miscounts one intersection cell by 1
    # (expected colliding shingle pairs ~u²/2⁶⁵ — immaterial even at 10¹²
    # distinct shingles, and a pair needs many shared shingles to clear tau).
    ex_cached = (
        sh.select("doc_id", "sz", F.explode("shingles").alias("sh_txt"))
        .select("doc_id", "sz", F.xxhash64("sh_txt").alias("sh"))
    ).cache()
    # keep the cached handle separate: unpersist() matches plans by
    # sameResult, so calling it on the anti-joined frame below would be a
    # silent no-op and the corpus-sized cache would pin executor storage
    ex = ex_cached
    if max_df is not None:
        hot = ex.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")
        ex = ex.join(F.broadcast(hot), "sh", "left_anti")
    a = ex.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"), "sh")
    b = ex.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sza", "szb")
        .agg(F.count("*").alias("inter"))
    )
    jac = inter.withColumn(
        "jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    )
    out = jac.filter(F.col("jaccard") >= tau).select("a", "b", "jaccard")
    # the pair set is tiny (near-dup pairs); materialize it eagerly so the
    # corpus-sized cached explode can be released NOW instead of pinning
    # executor memory for the life of the session
    out = out.localCheckpoint(eager=True)
    ex_cached.unpersist()
    return out


def minhash_signatures(docs: DataFrame, num_perm: int = 32, n: int = 3) -> DataFrame:
    """MinHash signature per doc: min over shingles of the i-th 2-universal
    linear permutation (a_i * h + b_i) mod p of a portable md5-derived base
    hash — exactly reproducible in the DuckDB gate oracle.

    One FUSED ``mapInArrow`` kernel does shingling + md5 + all
    ``num_perm`` permutation minima per Arrow batch: md5 runs once per
    batch-distinct shingle (hashlib, C speed), the permutations are
    ``num_perm`` vectorized mul/add/mod passes with segmented
    ``minimum.reduceat`` minima (exact: x, a < 2^31 so products stay
    < 2^62). This replaces a shingle explode + per-occurrence JVM md5 +
    a 32-aggregate hash aggregation — the groupBy exchange disappears
    (signatures are emitted map-side; docs with no shingles are dropped,
    matching the old explode+groupBy semantics)."""
    d, id_type = _words_frame(docs, "doc_id")
    consts = minhash_perm_constants(num_perm)
    A = np.array([a for a, _ in consts], dtype=np.int64)
    B = np.array([b for _, b in consts], dtype=np.int64)

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            flat, offs = _flat_list(b, "w")
            grams, counts = _doc_ngrams(flat.to_pylist(), offs, n, distinct=True)
            nz = np.nonzero(counts)[0]
            if len(nz) == 0:
                continue
            uniq, inv = np.unique(np.asarray(grams, dtype=object),
                                  return_inverse=True)
            ux = np.empty(len(uniq), dtype=np.int64)
            for i, s in enumerate(uniq):
                ux[i] = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
            x = (ux % MINHASH_P)[inv]
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            starts = starts[nz]
            mins = np.empty((len(nz), len(A)), dtype=np.int64)
            for i in range(len(A)):
                mins[:, i] = np.minimum.reduceat((x * A[i] + B[i]) % MINHASH_P,
                                                 starts)
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id").take(pa.array(nz))]
                + [pa.array(mins[:, i]) for i in range(len(A))],
                names=["doc_id"] + [f"mh{i}" for i in range(len(A))],
            )

    mh_ddl = ", ".join(f"mh{i} bigint" for i in range(num_perm))
    return d.mapInArrow(kern, schema=f"doc_id {id_type}, {mh_ddl}")


def minhash_lsh_candidates(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.
    Estimated Jaccard = fraction of matching minhash components.

    Scale guards:
    - per-(band, bucket) size cap (``max_bucket``): a degenerate bucket
      (boilerplate / empty docs) is quadratic in its size; a bucket that
      big carries no near-dup signal anyway (everything in it pairs with
      everything). Dropped buckets are a documented recall trade, same
      shape as ``jaccard_pairs``' ``max_df``;
    - singleton buckets are filtered BEFORE the self-join (they generate
      zero pairs but would still be shuffled twice);
    - the signature rejoin carries ONE array column, not ``num_perm``
      scalar columns, and the estimate is a JVM-side zip_with/aggregate.
    """
    sig = minhash_signatures(docs, num_perm, n)
    r = num_perm // bands
    # one pass: explode an array of (band, bucket) structs instead of a
    # bands-way union (each union arm re-scanned the signature frame).
    # Both arrays are parsed from SQL text: built from Column calls they
    # take ~100 py4j round trips, ~0.1 s of driver time per query.
    band_structs = ", ".join(
        f"named_struct('band', {bidx}, 'bucket', xxhash64("
        + ", ".join(f"mh{bidx * r + j}" for j in range(r)) + "))"
        for bidx in range(bands)
    )
    sig = sig.select(
        "doc_id",
        F.expr(f"array({', '.join(f'mh{i}' for i in range(num_perm))})").alias("sig"),
        F.expr(f"array({band_structs})").alias("bbs"),
    ).cache()
    buckets = sig.select("doc_id", F.explode("bbs").alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    wsz = W.partitionBy("band", "bucket")
    buckets = buckets.withColumn("bsz", F.count("*").over(wsz)).filter(
        (F.col("bsz") >= 2) & (F.col("bsz") <= max_bucket)
    ).drop("bsz")
    l = buckets.select(F.col("doc_id").alias("a"), "band", "bucket")
    rr = buckets.select(F.col("doc_id").alias("b"), "band", "bucket")
    cand = (
        l.join(rr, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    siga = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("siga"))
    sigb = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sigb"))
    est = cand.join(siga, "a").join(sigb, "b")
    match_frac = F.aggregate(
        F.zip_with("siga", "sigb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_perm)
    out = est.select("a", "b", match_frac.alias("est_jaccard"))
    # see jaccard_pairs: eager-materialize the small pair frame, release
    # the cached signature table immediately
    out = out.localCheckpoint(eager=True)
    sig.unpersist()
    return out


def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word hashes: bit b of the fingerprint is the sign
    of sum over words of (bit b of hash(word) ? +1 : -1).  The 64 word-hash
    bits come from md5 as two portable 32-bit halves (hi = bits 63..32,
    lo = bits 31..0) so the DuckDB gate oracle computes the identical
    fingerprints.

    Computed per Arrow batch in a ``mapInArrow`` kernel: md5 once per
    batch-distinct word (hashlib), then 64 segmented bit-count reductions
    (``add.reduceat`` over the per-doc word ranges) and one sign-threshold
    pack into the int64 fingerprint (two's complement — identical to the
    old JVM sum-of-±1 construction, pytest + oracle verified). Replaces a
    word explode + per-occurrence JVM md5 + a 64-aggregate hash aggregate;
    fingerprints are emitted map-side, so the groupBy exchange is gone.
    (The round-5 note about pre-aggregating to distinct (doc, word) being
    a net loss applied to the JVM plan shape — the kernel dedupes words
    batch-locally with no exchange at all.)"""
    d, id_type = _words_frame(docs, id_col)
    shifts = np.arange(64, dtype=np.uint64)

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            flat, offs = _flat_list(b, "w")
            words = np.asarray(flat.to_pylist(), dtype=object)
            uniq, inv = np.unique(words, return_inverse=True)
            uh = np.empty(len(uniq), dtype=np.uint64)
            for i, s in enumerate(uniq):
                hx = hashlib.md5(s.encode("utf-8")).hexdigest()
                uh[i] = (int(hx[:8], 16) << 32) | int(hx[8:16], 16)
            h64 = uh[inv]
            # docs with a null/empty word array produced no explode rows in
            # the old plan and get no fingerprint here either (and reduceat
            # needs strictly increasing segment starts)
            lens = np.diff(offs)
            keep = np.nonzero(lens > 0)[0]
            if len(keep) == 0:
                continue
            starts = offs[:-1][keep]
            cnt = np.empty((len(keep), 64), dtype=np.int64)
            for bb in range(64):
                bitcol = ((h64 >> np.uint64(bb)) & np.uint64(1)).astype(np.int64)
                cnt[:, bb] = np.add.reduceat(bitcol, starts)
            nw = lens[keep][:, None]
            fp = (
                ((2 * cnt > nw).astype(np.uint64) << shifts)
                .sum(axis=1, dtype=np.uint64)
                .view(np.int64)
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id").take(pa.array(keep)), pa.array(fp)],
                names=["doc_id", "simhash"],
            )

    return d.mapInArrow(kern, schema=f"doc_id {id_type}, simhash bigint")


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, max_bucket: int = 200
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into four
    16-bit keys and equi-join per band — by pigeonhole, any pair with
    hamming distance ≤ 3 agrees exactly on at least one of the 4 bands —
    then verify candidates with a popcount on the XOR (JVM bit_count).

    Same scale shape as MinHash-LSH: candidate generation is linear via
    bucket equi-joins (with a degenerate-bucket cap), exact verification
    only within buckets."""
    fp = simhash(docs)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("key"),
        )
        for b in range(4)
    ])
    fp = fp.select("doc_id", "simhash", band_structs.alias("bbs"))
    buckets = fp.select("doc_id", "simhash", F.explode("bbs").alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key")
    )
    wsz = W.partitionBy("band", "key")
    # cache the (small: docs × 4 fixed-width rows) bucket frame: BOTH sides
    # of the self-join read it, and the broadcast on one side breaks
    # Spark's ReuseExchange, so without the cache the whole fingerprint
    # computation (md5 per word + 64 bit-sum aggregates, the dominant
    # cost) runs twice — plan-verified
    buckets = buckets.withColumn("bsz", F.count("*").over(wsz)).filter(
        (F.col("bsz") >= 2) & (F.col("bsz") <= max_bucket)
    ).drop("bsz").cache()
    l = buckets.select(F.col("doc_id").alias("a"), F.col("simhash").alias("fa"), "band", "key")
    rr = buckets.select(F.col("doc_id").alias("b"), F.col("simhash").alias("fb"), "band", "key")
    cand = (
        l.join(rr, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "fa", "fb")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    out = (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    # see jaccard_pairs: eager-materialize the tiny pair frame, release
    # the cached buckets immediately
    out = out.localCheckpoint(eager=True)
    buckets.unpersist()
    return out


def _local_components(spark: SparkSession, edges: pa.Table) -> DataFrame:
    """dup_groups on the driver: union-find over an (a, b) Arrow edge table,
    returned as an Arrow-backed (doc_id, group_id) frame."""
    parent: dict = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges.column("a").to_pylist(), edges.column("b").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union-by-min keeps each root the component minimum, so
            # find(v) is exactly the "smallest doc_id reachable" label
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    return spark.createDataFrame(pa.table({
        "doc_id": pa.array(nodes, pa.int64()),
        "group_id": pa.array([find(v) for v in nodes], pa.int64()),
    }))


def dup_groups(pairs: DataFrame, max_iters: int = 50,
               local_threshold: int | None = 5_000_000) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, group_id) with
    group_id = the smallest doc_id in the component — the step that turns
    pairwise dedup output into dedup GROUPS (one keep per cluster).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) expressed
    as DataFrame self-joins — O(log n) rounds on pathological chains,
    2-3 rounds on the star/clique shapes dedup actually produces. Each
    round is two grouped min-joins; the driver loop only checks a
    convergence SUM per round (no data collected). At 10^12 docs the
    edge set is the (already linear) candidate-pair output, orders of
    magnitude smaller than the corpus, and every round's shuffle is on
    fixed-width (long, long) rows.

    The iteration state is localCheckpoint'ed each round: the lineage
    would otherwise double per iteration and the convergence sum
    re-execute the whole chain.

    Edge sets of at most ``local_threshold`` rows skip the rounds: one
    bounded Arrow fetch and a driver union-find (see below)."""
    # undirected edge list, self-loops dropped, as (node, neighbor) both ways
    e = pairs.select(F.col("a").cast("long"), F.col("b").cast("long")).filter(
        F.col("a") != F.col("b")
    )
    # Size-gated LOCAL fast path: near-dup pair sets are the designed-
    # linear output of the candidate stages — orders of magnitude smaller
    # than the corpus. ONE bounded action fetches at most local_threshold+1
    # edges as Arrow (default 5M edges ~= 80 MB in flight; same small-side
    # stance as incremental_dedup's broadcast batch), which is also the
    # driver's memory bound: at or below the threshold a driver union-find
    # replaces ~4 log-rounds x 2 actions of fixed job overhead, and its
    # result goes back as an Arrow-backed local relation (no pickled
    # rows). Bigger edge sets take the alternating-star distributed rounds
    # below (pass local_threshold=None or 0 to force them — the pytest
    # equivalence suite does).
    if local_threshold:
        head = e.limit(local_threshold + 1).toArrow()
        if head.num_rows <= local_threshold:
            return _local_components(pairs.sparkSession, head)
    # materialize the symmetrized edge list once: every contraction round
    # joins against it, and without the checkpoint the union+distinct
    # shuffle (the dominant exchange) re-executes per round
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    # parent[v] starts as min(v, min neighbor)
    parent = (
        edges.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("p"))
        .select(F.col("a").alias("v"), F.col("p"))
        .localCheckpoint(eager=True)
    )
    # Convergence gauge: parent values are pointwise NON-INCREASING round
    # over round (contraction mins over a set containing p[v]; halving
    # replaces p by p[p] <= p because every node's parent <= the node), so
    # the exact decimal sum is strictly decreasing until the fixpoint and
    # "sum unchanged" <=> "no value changed". This replaces the old
    # old-vs-new join + count action with ONE cheap aggregate per round
    # over the just-checkpointed frame. decimal(38,0) keeps the sum exact
    # far beyond 10^12 ids x 10^12 nodes (no ANSI long overflow).
    _psum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("p").cast("decimal(30,0)")).alias("s")
    ).collect()[0][0]
    prev_sum = _psum(parent)
    for _ in range(max_iters):
        # ONE fused plan per round — star contraction (min parent over the
        # 1-hop neighborhood) immediately followed by path-halving
        # (parent := parent[parent]); a single localCheckpoint both breaks
        # the per-round lineage growth and is the only action. The
        # contraction subtree is referenced twice by the halving self-join
        # (edge-sized, fixed-width rows) — cheaper than materializing it
        # as a second checkpoint action per round.
        nb = (
            edges.join(parent.withColumnRenamed("v", "b"), "b")
            .select(F.col("a").alias("v"), "p")
        )
        contracted = (
            parent.unionByName(nb).groupBy("v").agg(F.min("p").alias("p"))
        )
        gp = contracted.select(F.col("v").alias("pv"), F.col("p").alias("gp"))
        parent = (
            contracted.join(gp, contracted.p == gp.pv, "left")
            .select("v", F.coalesce("gp", "p").alias("p"))
            .localCheckpoint(eager=True)
        )
        cur_sum = _psum(parent)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return parent.select(F.col("v").alias("doc_id"), F.col("p").alias("group_id"))


def dedup_keep_list(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, group_id, keep): keep the smallest doc_id of every near-dup
    component, and every doc that appears in no pair (group_id = its own
    doc_id for singletons). The end-to-end output a training pipeline
    filters by — composes with any pair source (jaccard_pairs,
    minhash_lsh_candidates + verify, simhash_pairs,
    cosine_dup_pairs[_lsh])."""
    groups = dup_groups(pairs)
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(groups, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("group_id", "doc_id").alias("group_id"),
            (F.col("group_id").isNull()
             | (F.col("group_id") == F.col("doc_id"))).alias("keep"),
        )
    )


def _content_key(docs: DataFrame) -> DataFrame:
    """The fixed-width exact-dedup content key (see exact_dedup): two
    independently-salted xxhash64 values + normalized length, so joins and
    shuffles carry 20 bytes per doc instead of the text."""
    return normalized(docs).select(
        "*",
        F.xxhash64("norm_text").alias("h"),
        F.xxhash64(F.lit(0x9E3779B9), "norm_text").alias("h2"),
        F.length("norm_text").alias("len"),
    )


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Dedup a NEW ingest batch against an already-landed corpus: the
    steady-state pattern at 100 TB, where re-running dedup over the whole
    corpus per ingest is off the table. Returns (keep_id, n_dups) — one
    row per surviving batch content group (smallest batch id wins), with
    groups whose normalized text already exists in the corpus dropped.

    Scale shape, ``broadcast_batch=True`` (the normal case: batch ≪
    corpus): the batch collapses to its content-key groups (one small
    shuffle, batch-sized); those keys broadcast to a map-only semi-join
    over the corpus — the corpus is scanned ONCE and never exchanged, and
    the semi-join output ("hit" keys) is ≤ the distinct batch keys, so the
    final anti-join broadcasts too. Total exchanged bytes are O(|batch|)
    regardless of corpus size. With ``broadcast_batch=False`` (a backfill
    batch too big to broadcast) both sides hash-shuffle on the 20-byte
    key — corpus text still never moves.

    Same collision stance as exact_dedup: a 128-bit-key collision
    over-drops a batch doc, never corrupts the corpus. First-landed wins
    across the boundary by construction (a batch doc matching the corpus
    is always the dropped side) — consistent with the streaming twin
    streaming_dedup_exact's arrival-order rule."""
    bkeys = (
        _content_key(batch)
        .groupBy("h", "h2", "len")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )
    ckeys = _content_key(corpus).select("h", "h2", "len")
    if broadcast_batch:
        bkeys = bkeys.localCheckpoint(eager=True)  # cut the re-scan of batch
        hits = ckeys.join(
            F.broadcast(bkeys.select("h", "h2", "len")),
            ["h", "h2", "len"],
            "left_semi",
        ).distinct()
        out = bkeys.join(F.broadcast(hits), ["h", "h2", "len"], "left_anti")
    else:
        out = bkeys.join(ckeys, ["h", "h2", "len"], "left_anti")
    return out.select("keep_id", "n_dups")


def substring_dup_stats(docs: DataFrame, n: int = 5,
                        id_col: str = "doc_id") -> DataFrame:
    """Exact substring-duplication signal: per document, the fraction of
    its word ``n``-gram POSITIONS whose n-gram occurs more than once in
    the whole corpus — the classic intra-corpus repeated-substring measure
    used to find and strip boilerplate/templated spans before training
    (cross-document, unlike the intra-doc `textstats.repetition_signals`,
    and against the corpus itself, unlike `curation.decontaminate_ngram`'s
    external eval set). Returns
    ``(doc_id, n_grams, n_dup_grams, dup_frac)`` for every doc with at
    least ``n`` words; a high ``dup_frac`` marks a doc that is mostly
    duplicated text even when no single whole-doc near-dup pair exists.

    Scale shape: per-position grams (multiplicity preserved — the same
    zip_with chain as `word_shingles`, minus the distinct) are hashed to
    64 bits map-side, so both exchanges — the corpus-frequency groupBy and
    the count-back join — carry fixed-width rows, never gram text. A hash
    collision can only mark one position duplicated (expected colliding
    gram pairs ~u²/2⁶⁵ — at 10¹² grams, ~30 false positions corpus-wide,
    each shifting one doc's dup_frac by 1/n_grams). The duplicated-gram
    side of the join is pre-filtered to freq>1, which is also the natural
    broadcast candidate when boilerplate is rare."""
    grams = (
        word_shingles(docs, n, id_col=id_col, distinct=False)
        .select("doc_id", F.explode("shingles").alias("gram"))
        .select("doc_id", F.xxhash64("gram").alias("h"))
    )
    dup_h = (
        grams.groupBy("h").agg(F.count("*").alias("c")).filter(F.col("c") > 1)
    )
    per_doc = (
        grams.join(dup_h.select("h", F.lit(1).alias("is_dup")), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias("n_dup_grams"),
        )
    )
    return per_doc.withColumn(
        "dup_frac", F.round(F.col("n_dup_grams") / F.col("n_grams"), 6)
    )
