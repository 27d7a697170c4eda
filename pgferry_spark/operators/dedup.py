"""Deduplication operators for large-scale training-data pipelines.

Four families, each shaped for 100 TB:

* **exact** — hash-groupBy on the content (or a normalized fingerprint).
  One shuffle on a 16-byte key; map-side partial aggregation applies.
* **MinHash + LSH** — shingle → minhash signature → band buckets →
  bucket-join for candidate pairs. The self-join happens only within tiny
  LSH buckets, never all-pairs.
* **SimHash** — 64-bit locality-sensitive fingerprint; near-dups differ in
  few bits. One explode + one groupBy; Hamming check is a cheap bigint XOR.
* **n-gram Jaccard** — exact verification of candidate pairs (the refine
  step after LSH's recall-oriented filter).

MinHash/fingerprint hashing is md5-based (identical digests in Spark SQL and
DuckDB) so every step is verifiable against the ANSI-SQL oracle; SimHash's
production variant uses xxhash64 with an md5-based 32-bit twin for the
oracle. Swap md5 → xxhash64 throughout for maximum throughput once oracle
parity is no longer needed (the operator shapes are unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens
from ..utils import fan_out as _fan_out

# -- exact -------------------------------------------------------------------


def dedup_exact(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content value.

    Window-min, not groupBy + semi-join: one shuffle on the content key and
    the input computes once, vs an aggregate shuffle plus a join that
    re-evaluates the upstream plan on both sides."""
    from pyspark.sql.window import Window

    keep = F.min(id_col).over(Window.partitionBy(content_col))
    return (
        df.withColumn("__keep", keep)
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )


def exact_dup_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(keeper_id, dup_count) per distinct content — the audit view."""
    return (
        df.groupBy(content_col)
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("keeper_id", "dup_count")
    )


def dedup_by_fingerprint(
    df: DataFrame,
    content_col: str,
    id_col: str,
    score_col: str | None = None,
) -> DataFrame:
    """Near-exact dedup on the whitespace/case-normalized md5 fingerprint
    (same one-shuffle window shape as :func:`dedup_exact`). With
    ``score_col``, the keeper is the group's HIGHEST-scoring row (ties to
    the smallest id — :func:`keep_best` semantics) instead of min-id,
    while retaining every column of the kept row; ``id_col`` must be
    numeric in that mode."""
    from pyspark.sql.window import Window

    with_fp = df.withColumn("__fp", fingerprint(F.col(content_col)))
    w = Window.partitionBy("__fp")
    if score_col is None:
        keep = with_fp.withColumn("__keep", F.min(id_col).over(w)).filter(
            F.col(id_col) == F.col("__keep")
        )
        return keep.drop("__fp", "__keep")
    best = F.max(
        F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid"))
    ).over(w)
    keep = with_fp.withColumn("__best", best).filter(
        F.col(id_col) == -F.col("__best.nid")
    )
    return keep.drop("__fp", "__best")


def keep_best(
    df: DataFrame,
    id_col: str,
    key_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware dedup keeper: within each duplicate group (rows
    sharing ``key_col``) keep the row MAXIMIZING ``score_col``, ties
    broken toward the smallest id — the curation-grade alternative to
    the min-id keeper (:func:`dedup_exact`), which throws away quality
    information when a cluster mixes a clean original with mangled
    copies.

    Returns ``(id_col, score_col, dup_count)`` — one row per group.

    Shape: ONE aggregate shuffle of ``max(struct(score, -id))`` per
    group — map-side combinable, so a hot fingerprint reduces inside
    each input partition before the exchange; no window materialization
    of the whole group (the hot-span lesson from exact-substring spans
    applied here). ``id_col`` must be numeric (the tie-break negates
    it); NULL scores lose to any non-NULL score.
    """
    picked = df.groupBy(key_col).agg(
        F.max(
            F.struct(
                F.col(score_col).alias("s"),
                (-F.col(id_col)).alias("nid"),
            )
        ).alias("__m"),
        F.count(F.lit(1)).alias("dup_count"),
    )
    return picked.select(
        (-F.col("__m.nid")).cast("long").alias(id_col),
        F.col("__m.s").alias(score_col),
        "dup_count",
    )


# -- MinHash + LSH -----------------------------------------------------------


def _minhash_agg(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int,
    shingle: int,
    hash_fn: str = "md5",
    gram_stream: DataFrame | None = None,
) -> DataFrame:
    """Explode-then-aggregate MinHash: one row per (doc, shingle), then
    ``num_hashes`` MIN aggregates.

    Three deliberate shapes:

    * exploding before hashing builds each shingle exactly once (inline
      ``array_min(transform(...))`` would make Catalyst duplicate shingle
      construction per hash function), and the MINs combine map-side;
    * the k hash family is Kirsch–Mitzenmacher double hashing
      ``g_i = h1 + i·h2`` over two base hashes per shingle — k-1
      multiply-adds replace k-1 digests, and 56-bit operands keep
      ``h1 + 11·h2`` far from int64 overflow so the arithmetic is portable
      to engines (and ANSI mode) that error on overflow;
    * ``hash_fn='xxhash64'`` is the production path: h1/h2 are one JVM
      xxhash64 intrinsic each (the second salted), ~an order of magnitude
      cheaper than the md5 + base-16 conv pair. ``'md5'`` is the
      oracle-portable twin (identical digests in ANSI SQL) — same plan,
      same shuffle, only the leaf hash expressions differ.

    ``gram_stream`` (r15): a precomputed exploded ``(id_col, gram)``
    relation to hash instead of building the shingle fan-out here —
    the shared-front-half hook for compositions that ALSO need the raw
    grams (e.g. an LSH blocker followed by an exact-Jaccard verify over
    the same shingle size): one tokenize+shingle+explode pass serves
    both consumers.  Must contain exactly the distinct grams per doc
    that the internal construction would produce.
    """
    if hash_fn == "xxhash64":
        h1 = F.shiftrightunsigned(F.xxhash64(F.col("gram")), 8)
        h2 = F.shiftrightunsigned(F.xxhash64(F.col("gram"), F.lit(1)), 8)
    else:
        md5g = F.md5(F.col("gram"))
        h1 = F.conv(F.substring(md5g, 1, 14), 16, 10).cast("long")
        h2 = F.conv(F.substring(md5g, 17, 14), 16, 10).cast("long")
    if gram_stream is not None:
        grams = gram_stream.select(
            F.col(id_col), h1.alias("h1"), h2.alias("h2")
        )
    else:
        if shingle > 1:
            arr = ngram_set(F.col(content_col), shingle)
        else:
            arr = F.array_distinct(tokens(F.lower(F.col(content_col))))
        # explode_outer, NOT explode: plain explode infers a pushable
        # size(grams) > 0 predicate, and Catalyst clones the entire shingle
        # construction into the pre-fan-out single-partition scan filter (the
        # SCALE.md contamination_check pathology, observed here in the
        # cross_corpus_near_dup plan audit). Null gram rows drop immediately.
        grams = (
            _fan_out(df, id_col, force=True)
            .select(F.col(id_col), F.explode_outer(arr).alias("gram"))
            .filter(F.col("gram").isNotNull())
            .select(F.col(id_col), h1.alias("h1"), h2.alias("h2"))
        )
    mins = [
        F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return grams.groupBy(id_col).agg(*mins)


def lsh_bucket_table(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle: int = 3,
    hash_fn: str = "md5",
    gram_stream: DataFrame | None = None,
) -> DataFrame:
    """(id, band_id, band_hash) — one row per doc per band. Docs sharing a
    (band_id, band_hash) bucket are near-dup candidates.

    ``hash_fn='xxhash64'`` also hashes the band directly from the signature
    columns (one intrinsic, bigint band_hash) instead of md5 over a
    concat_ws string.  ``gram_stream`` passes through to
    :func:`_minhash_agg` (shared shingle front half)."""
    rows_per_band = num_hashes // bands
    sig = _minhash_agg(
        df, content_col, id_col, num_hashes, shingle, hash_fn,
        gram_stream=gram_stream,
    )

    def band_hash(b):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if hash_fn == "xxhash64":
            return F.xxhash64(*cols)
        return F.md5(F.concat_ws("|", *[c.cast("string") for c in cols]))

    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            band_hash(b).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return (
        sig.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bh"))
        .select(id_col, F.col("bh.band_id").alias("band_id"), F.col("bh.band_hash").alias("band_hash"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle: int = 3,
    hash_fn: str = "md5",
    max_bucket: int | None = None,
    release_cache: bool = False,
    gram_stream: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any LSH band bucket.

    The join key is (band_id, band_hash): each bucket is expected O(1)-sized,
    so the self-join is linear in candidates, not quadratic in corpus. The
    bucket table is persisted so the MinHash signatures (the expensive md5
    work) are computed once, not once per join side.

    ``max_bucket`` caps degenerate (hot) buckets: a bucket of B members
    emits B^2/2 pairs, so one hot band value (boilerplate, empty-ish docs)
    can dominate the whole join. Buckets above the cap are excluded via a
    semi-join against the per-bucket counts (aggregated on the same
    partitioning the join uses — no extra wide shuffle). The recall cost
    is bounded: members of a dropped bucket still pair wherever any OTHER
    band agrees, which for true near-duplicates is the common case.
    Default None keeps exact reference/oracle semantics.

    Cache lifecycle: the persisted bucket table lives until the session
    evicts it (LRU) or the caller unpersists — or pass
    ``release_cache=True`` to close the scope here (eager
    ``utils.checkpoint_release`` materialization + unpersist, the
    looping-driver posture; default stays lazy/plan-assertable)."""
    cached = buckets = lsh_bucket_table(
        df, content_col, id_col, num_hashes, bands, shingle, hash_fn,
        gram_stream=gram_stream,
    ).persist()
    if max_bucket is not None:
        small = (
            buckets.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
        buckets = buckets.join(small, ["band_id", "band_hash"], "left_semi")
    a = buckets.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = buckets.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_b")
    )
    out = (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if release_cache:
        from ..utils import checkpoint_release

        return checkpoint_release(out, cached)
    return out


# -- SimHash -----------------------------------------------------------------


def simhash64(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(id, simhash bigint) — 64-bit SimHash over xxhash64 token hashes.

    Per doc: every token votes its hash bits; the fingerprint keeps bits set
    in a majority of token hashes. Computed **row-locally** — the token-hash
    array materializes once per row, then 64 cheap array filters derive the
    bits. No explode, no shuffle at all: measured 11× faster than the
    explode→groupBy(64 sums) formulation it replaced, and at 100 TB it is
    embarrassingly parallel (map-only).
    """
    return _simhash_rowlocal(
        df, content_col, id_col, bits=64,
        token_hash=lambda t: F.xxhash64(t),
    )


def simhash32_md5(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(id, simhash bigint) — 32-bit SimHash over md5-derived token hashes.

    The oracle-portable variant: the token hash is the first 32 bits of the
    md5 digest, reproducible bit-for-bit in ANSI SQL. Production uses
    ``simhash64`` (xxhash64 is a JVM intrinsic); the operator shape is
    identical."""
    return _simhash_rowlocal(
        df, content_col, id_col, bits=32,
        token_hash=lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )


def _simhash_rowlocal(df: DataFrame, content_col: str, id_col: str, bits: int, token_hash) -> DataFrame:
    """Row-local bit voting: JVM-side token hashing, numpy-vectorized vote.

    Token hashes are built with JVM expressions (split/distinct/xxhash64 —
    codegen'd, pushdown-friendly); the 64-bit majority vote runs in ONE
    Arrow-batched pandas UDF (unpack bits → column sums → pack).

    Why not pure Column expressions? Both expression formulations proved
    pathological: 64 parallel ``size(filter(...))`` columns cost ~4 s of
    Catalyst analysis+codegen per plan, and a two-fold HOF rewrite was
    *correct* in isolation but fragile — downstream join null-filters
    rewrote ``isnotnull(band_val)`` into ``isnotnull(<whole fold>)``, pushed
    it into the scan, and inlined the vote-count subexpression once per bit
    (O(bits²·tokens) per row → 45 s at sf0.1). The UDF is an optimizer
    barrier: nothing inlines through it, nothing pushes past it, and the
    vote is vectorized across the Arrow batch. Still map-only — zero
    shuffles at any scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _vote(hs):
        shifts = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            votes = ((a[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            fp = int(
                ((2 * votes > len(a)).astype(np.uint64) << shifts).sum(
                    dtype=np.uint64
                )
            )
            out[i] = fp - (1 << 64) if fp >= (1 << 63) else fp
        return pd.Series(out)

    # module uses postponed annotations (PEP 563), which turns inline hints
    # into strings pandas_udf can't resolve — attach real types instead
    _vote.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    vote = pandas_udf(_vote, "long")

    hashes = F.transform(
        F.array_distinct(tokens(F.lower(F.col(content_col)))), token_hash
    )
    base = _fan_out(df, id_col).select(F.col(id_col), hashes.alias("__hs"))
    return base.select(F.col(id_col), vote(F.col("__hs")).alias("simhash"))


def simhash_near_pairs(df: DataFrame, content_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs whose 64-bit SimHash Hamming distance ≤ ``max_hamming``
    (production variant: xxhash64 token hashes)."""
    sh = simhash64(df, content_col, id_col)
    return simhash_near_pairs_from(sh, id_col, bits=64, max_hamming=max_hamming)


def simhash_near_pairs_md5(df: DataFrame, content_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Oracle-portable twin of :func:`simhash_near_pairs`: 32-bit md5-based
    fingerprints (bit-reproducible in ANSI SQL), same banding plan."""
    sh = simhash32_md5(df, content_col, id_col)
    return simhash_near_pairs_from(sh, id_col, bits=32, max_hamming=max_hamming)


def simhash_near_pairs_from(
    sh: DataFrame, id_col: str, bits: int = 64, max_hamming: int = 3
) -> DataFrame:
    """Near-pairs from a precomputed (id, simhash) fingerprint table.

    Blocking: split the ``bits``-wide fingerprint into ``max_hamming+1``
    bands — by pigeonhole, any pair within the distance agrees exactly on
    ≥1 band, so a band-equality self-join finds all such pairs without an
    all-pairs scan.
    """
    nbands = max_hamming + 1
    width = bits // nbands
    # persist the FINGERPRINTS, not the exploded band table: projection
    # collapse would otherwise inline the simhash computation into every
    # band struct (and both join branches), recomputing it nbands× per row
    # — measured 6.2 s vs 1.8 s at sf0.1 for the materialization
    sh = sh.persist()
    bands = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftrightunsigned(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_val"),
        )
        for b in range(nbands)
    ]
    blocked = (
        sh.select(id_col, "simhash", F.explode(F.array(*bands)).alias("bb"))
        .select(
            id_col, "simhash",
            F.col("bb.band_id").alias("band_id"), F.col("bb.band_val").alias("band_val"),
        )
    )  # band derivation from the cached fingerprint is register math — each
    # join branch re-deriving it is cheaper than a second cache
    a = blocked.select(F.col("band_id"), F.col("band_val"), F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = blocked.select(F.col("band_id"), F.col("band_val"), F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # Hamming check BEFORE the dedup shuffle: the xor+bit_count is a cheap
    # per-candidate register op, so filtering first means the distinct()
    # shuffles only true near-pairs (~2% of candidates at sf0.1), not every
    # band collision
    return (
        a.join(b, on=["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# -- embedding-cosine near-dup ----------------------------------------------


def _estimate_rows(df: DataFrame) -> int | None:
    """Row-count estimate from the optimizer's plan statistics (parquet
    footers / CBO), never a Spark job; None when the plan has none, which
    callers treat as a large input.

    Block layout only needs the right order of magnitude (a 2x-off estimate
    shifts work between block count and block width, same total GEMM)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            n = int(str(rc.get()))
            if n > 0:
                return n
        size = int(str(stats.sizeInBytes()))
        # "unknown" is Long.MaxValue, which a projection scales down by its
        # width ratio: any size from a pebibyte up counts as unknown
        if 0 < size < (1 << 50):
            # arrays of float dominate these rows; ~8B/element + overhead
            width = max(64, 8 * len(df.columns) * 16)
            return max(1, size // width)
    except Exception:
        pass
    return None


def _vector_blocks(
    df: DataFrame, vec_col: str, id_col: str, block_size: int,
) -> tuple[DataFrame, int | None]:
    """``(blk, rows)``: ``df``'s vectors grouped into blocks of about
    ``block_size`` rows each, and the number of blocks when it is known.
    With a plan-stats row estimate, ids hash into ``ceil(N / block_size)``
    blocks (block sizing tolerates a 2x-off estimate). Without one, each
    input partition is cut by position into runs of ``block_size`` rows
    (``monotonically_increasing_id`` is the partition index << 33 | the
    row's index in it), so no block outgrows ``block_size`` whatever the
    input's size, and no job counts the input."""
    vecs = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    n = _estimate_rows(df)
    if n is None:
        pos = F.monotonically_increasing_id()
        per_partition = -(-(1 << 33) // block_size)
        blk = F.shiftright(pos, 33) * per_partition + F.floor(
            pos.bitwiseAND((1 << 33) - 1) / block_size
        )
        nblocks = None
    else:
        nblocks = max(1, -(-n // block_size))
        blk = F.pmod(F.xxhash64("id"), F.lit(nblocks))
    blocks = (
        vecs.withColumn("blk", blk)
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    )
    return blocks, nblocks


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.35,
    block_size: int = 1024,
) -> DataFrame:
    """Exact near-dup pairs by embedding cosine: (id_a, id_b, cosine_sim)
    with id_a < id_b and cosine ≥ ``threshold``.

    Shape: **blocked GEMM**. Vectors are grouped into blocks of about
    ``block_size`` (``_vector_blocks``); every block pair (i ≤ j) is one
    Python call that computes its cosine submatrix with a single vectorized
    numpy matmul (row-normalize once, ``A @ B.T``) and emits only
    above-threshold pairs.
    A naive pairwise ``aggregate``-fold join measured 52 s for 2 M pairs at
    sf0.1 (per-element HOF interpretation); the same work as BLAS is < 2 s,
    and each task streams one Arrow batch in / tiny pairs out.

    Still O(N²) work across (N/B)² tasks — exact is inherently all-pairs;
    use :func:`embedding_near_dup_pairs_lsh` when N makes that infeasible
    and recall < 1 is acceptable. Rounding is half-up to 4 dp, matching the
    SQL oracle's ROUND."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    blocks, nblocks = _vector_blocks(df, vec_col, id_col, block_size)
    blocks = blocks.persist()  # built once, joined twice
    if nblocks is None:
        # block ids known only once built: pair the ids that exist
        ids = blocks.select("blk")
        idx = ids.select(F.col("blk").alias("blk_a")).join(
            ids.select(F.col("blk").alias("blk_b")), F.col("blk_a") <= F.col("blk_b"),
        )
    else:
        # enumerate block-index pairs (i <= j) in the JVM: no Python task
        # parallelizes a driver-side list
        idx = spark.range(0, nblocks, 1, 1).select(
            F.col("id").alias("blk_a"),
            F.explode(F.sequence(F.col("id"), F.lit(nblocks - 1).cast("long"))).alias("blk_b"),
        )
    # equi-join twice: the fat block rows shuffle by key instead of riding
    # a nested-loop broadcast. The pairs then shuffle once more, by pair,
    # into partitions AQE coalesces by size: a few small pairs make one
    # Python task (the join's own partitions would start one per core or
    # per cached block partition, most of them empty), many large pairs
    # stay split at the advisory partition size
    pairs = (
        idx.join(
            blocks.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")),
            "blk_a",
        ).join(
            blocks.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")),
            "blk_b",
        )
        .repartition("blk_a", "blk_b")
    )

    def emit(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ida = np.fromiter((r["id"] for r in row.rows_a), dtype=np.int64)
                A = np.array([r["v"] for r in row.rows_a], dtype=np.float64)
                idb = np.fromiter((r["id"] for r in row.rows_b), dtype=np.int64)
                B = np.array([r["v"] for r in row.rows_b], dtype=np.float64)
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                B /= np.linalg.norm(B, axis=1, keepdims=True)
                S = A @ B.T
                # half-up rounding to 4 dp (np.round is half-to-even)
                S = np.trunc(S * 10_000 + np.where(S >= 0, 0.5, -0.5)) / 10_000
                ia, ib = np.nonzero(S >= threshold)
                ka, kb = ida[ia], idb[ib]
                if row.blk_a == row.blk_b:
                    # diagonal block: each unordered pair appears twice; keep
                    # the ascending orientation once
                    keep = ka < kb
                    lo, hi = ka[keep], kb[keep]
                    sims = S[ia, ib][keep]
                else:
                    # off-diagonal: each pair appears once but blocking
                    # doesn't order ids — canonicalize to (min, max); a
                    # repeated id that positional blocking split is no pair
                    keep = ka != kb
                    lo = np.minimum(ka, kb)[keep]
                    hi = np.maximum(ka, kb)[keep]
                    sims = S[ia, ib][keep]
                out.append(
                    pd.DataFrame({"id_a": lo, "id_b": hi, "cosine_sim": sims})
                )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
            )

    return pairs.mapInPandas(emit, "id_a long, id_b long, cosine_sim double")


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.35,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """LSH-blocked embedding near-dup: sign-bit hyperplane signatures split
    into ``bands``; pairs agreeing on ≥1 band are candidates, then exact
    cosine verifies. Same output schema as the exact variant but approximate
    recall (a true pair disagreeing on every band is missed — more/narrower
    bands trade joins for recall, exactly the MinHash-LSH dial).

    Scale shape: candidate generation is a self-join on (band_id, band_val)
    buckets — linear in collisions, never corpus-quadratic — and the exact
    cosine runs only on candidates.  Planes are generated executor-side
    from ``(dim, n_planes, seed)`` (pass ``dim`` if known); construction
    launches zero Spark jobs — the old formulation probed ``df.first()``
    for the dimension, a blocking driver job before the main job."""
    from .similarity import lsh_bucket_batch_lazy

    width = n_planes // bands
    import numpy as np
    import pandas as pd

    sig = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        lsh_bucket_batch_lazy(n_planes, seed, dim)(
            F.col(vec_col).cast("array<double>")
        ).alias("sig"),
    )
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_id"),
            F.shiftrightunsigned(F.col("sig"), bi * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_val"),
        )
        for bi in range(bands)
    ]
    exploded = sig.select(
        F.col("id"), F.col("v"), F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "id", "v",
        F.col("bb.band_id").alias("band_id"), F.col("bb.band_val").alias("band_val"),
    )

    def bucket_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        V = np.array(list(pdf["v"]), dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ V.T
        S = np.trunc(S * 10_000 + np.where(S >= 0, 0.5, -0.5)) / 10_000  # half-away 4dp
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = S[ia, ib] >= threshold
        ka, kb = ids[ia[keep]], ids[ib[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ka, kb),
                "id_b": np.maximum(ka, kb),
                "cosine_sim": S[ia, ib][keep],
            }
        )

    # one shuffle (by band bucket), one numpy matmul per bucket, then a
    # dedup of the (tiny) above-threshold pair set found in multiple bands.
    # The earlier join-per-candidate formulation evaluated an aggregate-fold
    # cosine per candidate pair (~50 s for 4M candidates at sf0.1); the
    # per-bucket GEMM does the same verify as BLAS. Skewed (hot) buckets
    # make one task's matmul large — band width is the dial: wider bands →
    # smaller buckets and lower recall.
    pairs = exploded.groupBy("band_id", "band_val").applyInPandas(
        bucket_gemm, "id_a long, id_b long, cosine_sim double"
    )
    return pairs.dropDuplicates(["id_a", "id_b"])


def embedding_dedup(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.35
) -> DataFrame:
    """Embedding-cosine dedup keep-set: drop every vector that has a
    near-dup with a smaller id (the canonical-representative rule the exact
    and fingerprint dedups use). Returns the surviving rows of ``df``."""
    dups = embedding_near_dup_pairs(df, vec_col, id_col, threshold).select(
        F.col("id_b").alias(id_col)
    )
    return df.join(dups, on=id_col, how="left_anti")


# -- n-gram Jaccard ----------------------------------------------------------


def ngram_set(col, n: int = 3):
    """Word n-gram shingles as an array<string> (distinct)."""
    toks = tokens(F.lower(col))
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(F.when(cnt < n, F.array().cast("array<string>")).otherwise(grams))


def _member_grams(df, pairs, content_col, id_col, n):
    """Shared verify-step front half for :func:`jaccard_pairs` /
    :func:`containment_pairs`: the persisted candidate table plus the
    exploded ``(id, gram_count, gram)`` stream of candidate MEMBERS only.

    * ``pairs`` is persisted — it feeds both the intersection join and
      the final join-back, and unpersisted the caller's candidate
      generation (e.g. an LSH bucket self-join + distinct) executed
      twice per materialization. Bounded by the candidate count, which
      the verify contract already requires to be linear in. Lifecycle:
      caller/bench clears or session LRU evicts (the bucket-table
      convention).
    * documents are NOT semi-join-pruned to pair members here,
      deliberately: a union+distinct+semi-join member chain was
      measured (r14) at +10 s on containment_adjacent — it lands on
      the shingle side's critical path TWICE (a and b) and every
      current caller's pairs cover most of the corpus anyway (adjacent
      ids, LSH candidates). When candidates really are a small subset
      of a huge corpus, use :func:`cross_corpus_near_dup`, whose
      ``shingled()`` prunes by side-specific membership off the
      persisted candidate table.
    * ``explode_outer`` + not-null, NOT plain ``explode``: explode
      infers a pushable ``size(grams) > 0`` predicate and Catalyst
      clones the whole shingle construction into the pre-fan-out scan
      filter (the SCALE.md pathology 61ef282 removed from the MinHash
      pipelines)."""
    pairs = pairs.persist()
    shingled = _fan_out(df, id_col, force=True).select(
        F.col(id_col), ngram_set(F.col(content_col), n).alias("grams")
    ).withColumn("gram_count", F.size("grams"))
    ex = shingled.select(
        F.col(id_col), F.col("gram_count"), F.explode_outer("grams").alias("gram")
    ).filter(F.col("gram").isNotNull())
    return pairs, ex


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 3,
    min_jaccard: float = 0.0,
    member_grams: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: explode each side's shingle
    set, count intersections per pair, and derive |union| = |A|+|B|−|∩|.

    Every candidate pair appears in the output: pairs with zero n-gram
    intersection (or where either doc has no shingles) come back with
    ``jaccard = 0.0`` via the left-join, so a verify-step consumer can
    distinguish "evaluated to 0" from "not evaluated". This is the verify
    step after LSH/SimHash blocking: cost is linear in candidate-pair
    shingles, never corpus-quadratic.

    ``member_grams`` (r15): a precomputed ``(id_col, gram_count, gram)``
    exploded stream to use instead of building one here — the
    shared-front-half hook :func:`near_dup_verified_pairs` uses so the
    LSH blocker and this verify share ONE tokenize+shingle pass.

    Cache lifecycle (ADVICE r14): the candidate table persists inside
    this call and is NOT unpersisted on any code path here — a
    long-lived driver looping over corpora must
    ``spark.catalog.clearCache()`` (or unpersist the inputs it owns)
    between iterations, the same convention as the LSH bucket table."""
    if member_grams is not None:
        pairs, ex = pairs.persist(), member_grams
    else:
        pairs, ex = _member_grams(df, pairs, content_col, id_col, n)
    a = ex.select(F.col(id_col).alias("id_a"), F.col("gram_count").alias("n_a"), "gram")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("gram_count").alias("n_b"), "gram")
    inter = (
        pairs.join(a, on="id_a")
        .join(b, on=["id_b", "gram"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    scored = inter.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    return (
        pairs.select("id_a", "id_b")
        .join(scored, on=["id_a", "id_b"], how="left")
        .select("id_a", "id_b", F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def near_dup_verified_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle: int = 3,
    min_jaccard: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash-LSH candidates verified by exact n-gram Jaccard — the
    generate→verify composition — with the shingle front half SHARED
    between the blocker and the verifier (r15, guide §2.4: the LSH
    signature build and the verify's gram explode otherwise each run
    their own full tokenize + n-gram + explode pass over the corpus,
    the single most expensive duplicated subtree in the
    dedup_method_agreement profile).

    One persisted ``(id, gram_count, gram)`` stream — built exactly as
    :func:`_member_grams` builds it (same fan_out, same ``ngram_set``,
    same explode_outer/not-null discipline) — feeds BOTH the MinHash
    aggregate (via :func:`lsh_candidate_pairs`'s ``gram_stream`` hook)
    and the verify's intersection joins, so results are byte-identical
    to the uncomposed ``lsh_candidate_pairs`` → ``jaccard_pairs`` chain
    (the blocker requires ``shingle`` n-grams and the verifier the same
    ``n``; this composition is only defined for that shared size).

    The persist holds the PRE-explode ``(id, grams array, gram_count)``
    form — document-count rows, roughly corpus-text-sized (measured
    marginally faster than caching the exploded gram strings, and far
    smaller: the explode re-runs per consumer off cached arrays, which
    is cheap; the tokenize+shingle construction is what's shared).
    The candidate table inside ``jaccard_pairs`` persists as before.
    Lifecycle follows the bucket-table convention: caller/bench clears
    or session LRU evicts.  Measured at sf0.1 (JIT-warm, interleaved):
    2.36 s → 1.90 s for the full generate→verify chain."""
    from pyspark.storagelevel import StorageLevel

    shingled = _fan_out(df, id_col, force=True).select(
        F.col(id_col), ngram_set(F.col(content_col), shingle).alias("grams")
    ).withColumn("gram_count", F.size("grams")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = shingled.select(
        F.col(id_col),
        F.col("gram_count"),
        F.explode_outer("grams").alias("gram"),
    ).filter(F.col("gram").isNotNull())
    cands = lsh_candidate_pairs(
        df, content_col, id_col, num_hashes, bands, shingle, hash_fn,
        gram_stream=ex.select(F.col(id_col), F.col("gram")),
    )
    return jaccard_pairs(
        df, cands, content_col, id_col, n=shingle,
        min_jaccard=min_jaccard, member_grams=ex,
    )


# -- dedup clusters (connected components) -----------------------------------


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "star",
) -> DataFrame:
    """(doc_id, cluster_id) for every id appearing in ``pairs``, where
    ``cluster_id`` is the minimum id in the connected component — the step
    that turns pairwise near-dup candidates into keep-one-per-cluster
    groups (pairs alone under-delete: A~B and B~C must collapse to ONE
    cluster even when A~C was never emitted).

    ``algorithm="star"`` (default, the scale path): the large-star/
    small-star alternation of Kiveris et al., "Connected Components in
    MapReduce and Beyond" — each round hooks every node to the minimum of
    its neighborhood from two orientations, collapsing chains
    multiplicatively, so a diameter-d component converges in O(log d)
    rounds instead of d.  Convergence is detected from a (count,
    hash-sum) signature computed BY the job that materializes each
    round's persisted edge set — one Spark job per round total, no
    separate compare-join (the old label-prop convergence check joined
    old vs new labels: a second job per round).

    ``algorithm="label_prop"``: the original min-label propagation —
    rounds = component diameter, one join + min-aggregate per round.
    Kept for comparison and as the simpler shape when components are
    known-dense (near-dup clusters usually are).

    Both return identical labels; tests assert equivalence on random
    graphs and a 1000-node path.
    """
    if algorithm == "star":
        labels, _ = _cc_star(pairs, id_a, id_b, max_iter)
        return labels
    if algorithm != "label_prop":  # pragma: no cover - caller bug
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # localCheckpoint, not persist: each round's plan references the previous
    # labels twice (the neighbor-min join and the carry-through), so without
    # lineage truncation the logical plan doubles per round and the driver
    # dies assembling plan trees (measured: heap OOM at ~8 rounds).
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("label").alias("nl"))
        )
        # convergence rides along as a __changed flag — no old-vs-new
        # compare join (the old shape's second full job per round); the
        # post-checkpoint sum reads the blocks just written
        new_labels = (
            labels.withColumnRenamed("label", "__old")
            .join(neigh_min, F.col("id") == F.col("a"), "left")
            .select(
                "id",
                F.least(F.col("__old"), F.coalesce("nl", "__old")).alias("label"),
                F.col("__old"),
            )
            .withColumn("__changed", (F.col("label") != F.col("__old")).cast("int"))
            .select("id", "label", "__changed")
            .localCheckpoint(eager=True)
        )
        changed = new_labels.agg(F.sum("__changed")).first()[0] or 0
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def _cc_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iter: int
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components; returns (labels, rounds).

    Edge invariant: the working set holds each undirected edge once,
    oriented high→low (``u > v``), self-loops dropped.  One round:

    * **large-star** — from the symmetrized view, every node ``u`` hooks
      its strictly-larger neighbors to ``m = min(Γ(u) ∪ {u})``;
    * **small-star** — every node hooks its smaller neighbors (and
      itself) to its minimum neighbor.

    Both steps are a groupBy-min + a key join — no collect_list, so a
    hot node (a giant near-dup cluster) never materializes its whole
    neighborhood in one task.  At convergence the edge set is exactly
    {(member, root)} per component; node labels fall out of one left
    join, roots coalescing to themselves.

    Convergence check: ``(count, bit_xor(xxhash64(u,v)))`` — an aggregate
    over the freshly checkpointed edge table (cheap: reads the in-memory
    blocks just written).  A stable signature between rounds means a
    stable edge set (the alternation is deterministic, so equal sets ⇒
    fixed point; a false positive needs an XOR collision at equal
    counts).

    Each round ends in ``localCheckpoint(eager=True)``, not ``persist``:
    a round's plan references the previous round's DataFrame ~4× (the
    symmetrized union feeds both the groupBy-min and the join), so
    without lineage truncation the logical plan grows 4^rounds and the
    DRIVER dies assembling plan trees long before any executor sees
    data.  Checkpointing bounds the plan at one round deep; on a real
    cluster prefer ``checkpoint()`` with a reliable dir for
    executor-loss recovery (same shape).
    """
    e = (
        pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
    )
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .persist()
    )
    edges = e.localCheckpoint(eager=True)
    sig_prev = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: hook larger neighbors to min(neighborhood ∪ self)
        ls_min = sym.groupBy("u").agg(F.min("v").alias("mv"))
        ls_m = ls_min.select("u", F.least("u", "mv").alias("m"))
        large = (
            sym.join(ls_m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the oriented result: hook self + smaller neighbors
        # to the minimum neighbor
        ss_min = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(ss_min, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(ss_min.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # bit_xor: order-independent, overflow-free (sum trips ANSI long
        # overflow), and duplicate-free input (distinct above) means XOR
        # cannot cancel a repeated pair
        row = small.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        edges = small
        if sig == sig_prev:
            break
        sig_prev = sig
    labels = (
        nodes.join(edges, nodes["id"] == edges["u"], "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(edges["v"], nodes["id"]).alias("cluster_id"),
        )
    )
    nodes.unpersist()
    return labels, rounds


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    content_col: str,
    id_col: str,
) -> DataFrame:
    """Admit only new-batch documents that duplicate NEITHER the existing
    corpus NOR an earlier row of the same batch — the daily-crawl
    ingestion path, where re-deduplicating the full corpus per batch
    would be O(corpus) every day instead of O(batch).

    Two fingerprint-keyed hops, both linear in the BATCH:
    1. within-batch keeper: min-id per fingerprint (one shuffle of batch
       fingerprints);
    2. anti-join the keepers' fingerprints against the corpus fingerprint
       table (at scale the corpus side is the precomputed/bucketed
       fingerprint index a real deployment maintains — cite
       `sources/layout.py` for the bucketed no-shuffle layout; here it is
       derived inline so the operator is self-contained).

    Returns (id, fingerprint) of admitted rows."""
    from pyspark.sql.window import Window

    from pgferry_spark.functions.text import fingerprint

    batch_fp = new_batch.select(
        F.col(id_col), fingerprint(F.col(content_col)).alias("fp")
    )
    w = Window.partitionBy("fp")
    keepers = (
        batch_fp.withColumn("__keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .select(id_col, "fp")
    )
    corpus_fp = corpus.select(fingerprint(F.col(content_col)).alias("fp")).distinct()
    return keepers.join(corpus_fp, "fp", "left_anti").select(id_col, "fp")


# -- duplicate-span removal (C4-style line dedup) ----------------------------


def span_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    span: int = 5,
    keeper: str = "window",
) -> DataFrame:
    """Corpus-wide duplicate-span removal: C4's three-sentence / line-level
    dedup rule (keep the FIRST occurrence of every repeated span, delete the
    rest from their documents) adapted to unsegmented text by chunking each
    document into fixed-width ``span``-token windows.

    Returns one row per non-blank document:
    ``(id, n_spans, kept_spans, kept_text)`` where ``kept_text`` is the
    document reassembled from its surviving spans in original order — the
    downstream training corpus after span-level dedup.

    Scale shape (the C4 pipeline ran exactly this over hundreds of TB):

    * span chunking is map-only — one HOF ``transform`` over the token
      array, then ``posexplode``; no driver state, no UDF;
    * keep-first is ONE shuffle on the span text (window ``row_number``
      ordered by ``(id, span_idx)``) — the same keyed shuffle as exact
      dedup, with map-side width reduced to (id, idx, span) triples;
    * reassembly is ONE shuffle back on the document id with
      ``collect_list`` of surviving spans (bounded by document length,
      not corpus size).

    A corpus-hot span (boilerplate header, empty-ish filler) concentrates
    its window partition; ``keeper="agg"`` is the implemented 100 TB
    mitigation — ``min(struct(id, idx))`` with map-side partial
    aggregation plus an exchange-reusing equi-join, so no task ever holds
    a span's full occurrence list (bit-identical output, test-pinned).
    Keep-first (not keep-random) makes the pass deterministic and
    incremental-rebuild safe.
    """
    toks = tokens(F.col(content_col))
    n_spans = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(toks, i * span + 1, span), " "),
    )
    exploded = (
        df.filter(F.trim(F.col(content_col)) != "")
        .select(F.col(id_col), F.posexplode(spans_arr).alias("span_idx", "span_text"))
    )
    if keeper == "window":
        from pyspark.sql.window import Window

        rn = F.row_number().over(
            Window.partitionBy("span_text").orderBy(
                F.col(id_col).asc(), F.col("span_idx").asc()
            )
        )
        ranked = exploded.withColumn("__rn", rn)
    elif keeper == "agg":
        # hot-span-safe keeper: the window above materializes every
        # occurrence of a span inside ONE partition (a boilerplate span at
        # 10% document frequency = 10% of the corpus in one task); the
        # aggregate keeper reduces each span to its MIN (id, idx) pair with
        # map-side partial aggregation — no single task ever holds a span's
        # full occurrence list — then an equi-join (same span_text
        # partitioning, exchange reused) flags the keepers. Output is
        # bit-identical to the window path (equivalence test pins it).
        keepers = exploded.groupBy("span_text").agg(
            F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("__k")
        )
        ranked = exploded.join(keepers, "span_text").withColumn(
            "__rn",
            F.when(
                (F.col("__k")[id_col] == F.col(id_col))
                & (F.col("__k")["span_idx"] == F.col("span_idx")),
                F.lit(1),
            ).otherwise(F.lit(2)),
        ).drop("__k")
    else:  # pragma: no cover - caller bug
        raise ValueError(f"keeper must be 'window' or 'agg', got {keeper!r}")
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("span_idx"), F.col("span_text"))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("__rn") == 1).cast("bigint")).alias("kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("span_text"),
                ),
                " ",
            ).alias("kept_text"),
        )
    )


# -- exact-substring duplicate spans (Lee et al. 2022) ------------------------


def exact_substring_spans(
    df: DataFrame,
    content_col: str,
    id_col: str,
    w: int = 8,
    min_match_chars: int | None = None,
    stride: int = 1,
) -> DataFrame:
    """Exact-substring duplicate spans — the "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2022, arXiv:2107.06499)
    ExactSubstr pass, re-expressed for Spark: instead of a monolithic
    suffix array (which needs the whole corpus in one address space),
    slide a stride-1 window of ``w`` tokens over every document, keep the
    FIRST corpus-wide occurrence of every repeated window (min (id, pos) —
    the same deterministic keep-first rule as :func:`span_dedup`), and
    merge each document's remaining duplicated windows into maximal spans.

    Returns one row per maximal duplicated span:
    ``(id, span_start, span_end, n_windows)`` with token offsets
    ``[span_start, span_end)`` — the byte ranges a downstream pass would
    cut from the training corpus. A span of consecutive duplicated
    windows longer than ``w`` tokens is exactly a repeated substring
    longer than the suffix-array threshold; ``w`` plays the role of Lee
    et al.'s 50-character minimum match length.

    Scale shape (three bounded shuffles, no suffix array, no all-pairs):

    * window generation is map-only (HOF ``transform`` over the token
      array + ``posexplode_outer``; window text is reduced to an md5 key
      immediately, so the shuffle carries (id, pos, 16-byte hash), never
      the text — at petabyte scale narrow the key further to two
      ``conv``-packed longs, the shape is unchanged);
    * the keeper is an AGGREGATE (count + min(struct(id, pos)) per window
      hash) with map-side partial aggregation — a boilerplate window at
      10% document frequency never concentrates its occurrence list in
      one task (the hot-span lesson from :func:`span_dedup`'s ``agg``
      keeper); singleton windows (count == 1) die in the same aggregate,
      so the join back touches only genuinely repeated windows;
    * island-merging is a per-document window (running max of span end,
      bounded by document length) + one grouped aggregate.

    Windows overlapping or exactly adjacent (``pos <= prev_end``) merge
    into one span; a gap of even one non-duplicated token splits spans.

    ``min_match_chars`` restores Lee et al.'s CHARACTER-length semantics
    (their suffix-array threshold is 50 chars, not a token count): when
    set, each merged span's text is reconstructed (tokens joined by a
    single space) and spans shorter than the floor are dropped; the
    output gains a ``span_chars`` column. Cost: one extra equi-join of
    the (small) span table back to a ``(id, tokens)`` projection —
    span-side is duplicate-bounded, so AQE broadcasts it in practice.

    ``stride`` (round 10, VERDICT r9 Next #8) trades recall for span
    volume on the SAME semantics: windows start every ``stride`` tokens
    instead of every token (the document tail window is always
    included), so ``stride=w`` is the non-overlapping grid posture
    (span_dedup's detection geometry, 1/w the spans), ``stride=w//2``
    the STAGGERED half-band (2/w the spans — cross-doc matches need a
    common aligned offset, which the half-band supplies at double
    density; measured recall lift pinned in the scorecard test), and
    ``stride=1`` the exact detector.  Keep-first, island merge and the
    char floor are stride-agnostic.
    """
    from pyspark.sql.window import Window

    from ..utils import fan_out

    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    toks = tokens(F.col(content_col))
    # fan_out is ALSO a projection-collapse barrier: without the Exchange,
    # Catalyst inlines the split() into the transform lambda and
    # re-tokenizes the document once per window (O(len^2) per doc).
    base = fan_out(
        df.filter(F.size(toks) >= w).select(F.col(id_col), toks.alias("__toks")),
        id_col,
        force=True,
    )
    t = F.col("__toks")
    n_win = (F.size(t) - F.lit(w) + 1).cast("int")
    if stride == 1:
        wins_arr = F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.md5(F.array_join(F.slice(t, i + 1, w), " ")),
        )
        occurrences = (
            base.select(
                F.col(id_col), F.posexplode_outer(wins_arr).alias("pos", "wh")
            )
            .filter(F.col("pos").isNotNull())
        )
    else:
        # strided starts + the exact tail window (so the document end is
        # never uncovered); posexplode positions are ARRAY indices, not
        # offsets, once stride > 1 — carry the offset in the element
        starts = F.array_distinct(
            F.concat(
                F.sequence(F.lit(0), n_win - 1, F.lit(stride)),
                F.array(n_win - 1),
            )
        )
        wins_arr = F.transform(
            starts,
            lambda p: F.struct(
                p.cast("int").alias("pos"),
                F.md5(F.array_join(F.slice(t, p + 1, w), " ")).alias("wh"),
            ),
        )
        occurrences = (
            base.select(F.col(id_col), F.explode_outer(wins_arr).alias("__w"))
            .filter(F.col("__w").isNotNull())
            .select(F.col(id_col), F.col("__w.pos").alias("pos"),
                    F.col("__w.wh").alias("wh"))
        )
    repeated = (
        occurrences.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k"),
        )
        .filter(F.col("__cnt") >= 2)
        .select("wh", "__k")
    )
    dup = (
        occurrences.join(repeated, "wh")
        .filter(
            ~(
                (F.col("__k")[id_col] == F.col(id_col))
                & (F.col("__k")["pos"] == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    ordered = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + w).over(
        ordered.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "__new", F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    ).withColumn("__island", F.sum("__new").over(ordered))
    spans = islands.groupBy(id_col, "__island").agg(
        F.min("pos").cast("int").alias("span_start"),
        (F.max("pos") + w).cast("int").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("__island")
    if min_match_chars is None:
        return spans
    # char-length floor (Lee et al.'s 50-char semantics): join the
    # duplicate-bounded span table back to the (id, tokens) projection
    # and measure the reconstructed span text — single-space joined, the
    # same normalization the window hashing used
    span_text = F.array_join(
        F.slice(
            F.col("__toks"),
            F.col("span_start") + 1,
            F.col("span_end") - F.col("span_start"),
        ),
        " ",
    )
    return (
        spans.join(base.select(F.col(id_col), F.col("__toks")), id_col)
        .withColumn("span_chars", F.length(span_text).cast("int"))
        .filter(F.col("span_chars") >= min_match_chars)
        .drop("__toks")
    )


def exact_substring_spans_exact(
    df: DataFrame,
    content_col: str,
    id_col: str,
    depth: int = 50,
) -> DataFrame:
    """EXACT duplicated-span discovery at Lee et al. 2022's CHARACTER
    threshold — the suffix-array pass of "Deduplicating Training Data
    Makes Language Models Better" (arXiv:2107.06499, 50-char minimum
    match), re-expressed as fixed-depth suffix-prefix grouping instead
    of a monolithic suffix array: key EVERY token-boundary suffix of the
    single-space-normalized text by its first ``depth`` characters. Two
    suffixes share a key **iff** the corpus repeats a ``>= depth``-char
    substring at those positions (non-empty tokens guarantee the first
    ``depth`` tokens always supply ``depth`` chars), so the key groups
    are exactly the suffix-array buckets Lee et al. scan after sorting —
    recovered with one hash aggregate instead of a global sort.

    Where :func:`exact_substring_spans` (w-token sliding windows) needs
    ``w`` whole tokens to repeat — a 60-char duplicate made of five long
    tokens escapes ``w=8`` — the char-depth key catches every
    ``>= depth``-char repeat regardless of tokenization, which is the
    paper's actual contract. On the adversarial misaligned-offset
    scorecard fixture the staggered half-band reads recall 0.84; this
    detector reads 1.0 (pinned in test_operators).

    Output: one row per maximal merged duplicate region,
    ``(id, span_start, span_end, n_suffixes)`` with CHARACTER offsets
    ``[span_start, span_end)`` into the normalized (single-space-joined)
    token text. Keep-first: the corpus-wide min ``(id, pos)`` occurrence
    of each key group is the retained copy and is never flagged. Every
    char in a reported span is proven duplicated (soundness exact: it
    lies inside a ``depth``-char window whose text occurs at least twice
    corpus-wide); a maximal region's tail is covered through the last
    token boundary with ``depth`` shared chars remaining plus the
    ``depth`` chars proven from it, so the uncovered remainder of a true
    maximal match is always shorter than one token — boundary exactness
    at the token granularity Lee et al.'s own BPE-sequence suffix array
    operates at.

    Scale shape (no suffix array, no global sort, no all-pairs):

    * suffix keys are built in the ARRAY world from a ``<= depth``-token
      slice per position (O(len·depth) chars scanned per doc, map-only),
      then reduced to md5 immediately — the shuffle carries
      ``(id, pos, off, 16-byte hash)``, never suffix text;
    * token-start char offsets come from one narrow per-doc running-sum
      window over ``(id, pos, token_len)`` — the lone extra exchange vs
      the w-token detector, same O(total tokens) row volume the key
      aggregate shuffles anyway;
    * the keeper is a count + min(struct) aggregate with map-side
      partial aggregation (a boilerplate suffix at 10% document
      frequency never concentrates an occurrence list in one task), and
      singleton keys die in the same aggregate, so the join back touches
      only genuinely repeated suffixes;
    * island merge runs over the duplicate-bounded flagged set only.
    """
    from pyspark.sql.window import Window

    from ..utils import fan_out

    if depth < 2:
        raise ValueError(f"depth must be >= 2, got {depth}")
    toks = tokens(F.col(content_col))
    # docs whose whole normalized text is shorter than depth can never
    # hold a flagged suffix: prune them map-side before any exchange
    base = fan_out(
        df.select(F.col(id_col), toks.alias("__toks")).filter(
            (F.size("__toks") > 0)
            & (F.length(F.array_join(F.col("__toks"), " ")) >= depth)
        ),
        id_col,
        force=True,
    )
    t = F.col("__toks")
    n = F.size(t)
    per_pos = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda p: F.struct(
            p.cast("int").alias("pos"),
            F.length(F.get(t, p)).alias("tl"),
            F.substring(
                F.array_join(F.slice(t, p + 1, depth), " "), 1, depth
            ).alias("k"),
        ),
    )
    ex = base.select(F.col(id_col), F.explode(per_pos).alias("__p")).select(
        F.col(id_col),
        F.col("__p.pos").alias("pos"),
        F.col("__p.tl").alias("tl"),
        F.col("__p.k").alias("k"),
    )
    ordered = Window.partitionBy(id_col).orderBy("pos")
    off = F.coalesce(
        F.sum(F.col("tl") + 1).over(
            ordered.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("int")
    occurrences = (
        ex.withColumn("off", off)
        # a key shorter than depth means fewer than depth chars remain at
        # this boundary — no >= depth match can start here
        .filter(F.length("k") >= depth)
        .select(id_col, "pos", "off", F.md5("k").alias("wh"))
    )
    repeated = (
        occurrences.groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k"),
        )
        .filter(F.col("__cnt") >= 2)
        .select("wh", "__k")
    )
    dup = (
        occurrences.join(repeated, "wh")
        .filter(
            ~(
                (F.col("__k")[id_col] == F.col(id_col))
                & (F.col("__k")["pos"] == F.col("pos"))
            )
        )
        .select(id_col, "off")
    )
    by_off = Window.partitionBy(id_col).orderBy("off")
    prev_end = F.max(F.col("off") + depth).over(
        by_off.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("off") > prev_end), 1).otherwise(0),
    ).withColumn("__island", F.sum("__new").over(by_off))
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("off").cast("int").alias("span_start"),
            (F.max("off") + depth).cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_suffixes"),
        )
        .drop("__island")
    )


# -- SemDeDup (cluster-then-dedup semantic dedup) ----------------------------


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.7,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    max_cell: int | None = None,
    gemm_block: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering embeddings
    and removing near-duplicates WITHIN each cluster — the trick that makes
    embedding dedup tractable at corpus scale, because the O(n²) cosine
    verify runs per-cell, never corpus-wide.

    Returns ``(id, cell_id, is_kept)`` for every row: within a cell, a row
    is dropped iff some LOWER-id row of the same cell has cosine ≥
    ``threshold`` with it (keep-lowest-id, the deterministic stand-in for
    SemDeDup's keep-one-per-dup-group).

    Scale shape: cell assignment is map-only register math against literal
    centroids (zero shuffle — same path as :func:`ivf_assign`); the
    per-cell verify is ONE shuffle on the cell id plus a BLAS matmul per
    cell (Arrow-batched ``applyInPandas``).  Cell population bounds the
    matmul, so the centroid count is the scale dial: at 100 TB you run
    ~100k k-means cells so each cell holds ~thousands of vectors — swap
    ``centroids`` for MLlib KMeans output (:func:`~pgferry_spark.operators.
    similarity.ivf_assign_kmeans` trains one), identical shape.

    Degenerate (hot) cells are ENFORCED against, not just documented:

    * the similarity matrix is computed in ``gemm_block``-row stripes, so
      a cell of n vectors peaks at O(gemm_block·n) memory instead of
      O(n²) — exact same output (stripe-equivalence is test-pinned), the
      n² compute is merely sequenced;
    * ``max_cell`` (optional) is the hard stop: cells above it skip the
      verify entirely and keep every row (``is_kept=true``) — honest
      semantics for an under-clustered corpus (an exceeded cell means
      n_cells is too small; raise it or train better centroids) that
      bounds worst-case work the same way the LSH families cap hot
      buckets.  Default None preserves exact oracle semantics.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _cell_of, ivf_centroids

    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_cells)

    assigned = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        _cell_of(F.col(vec_col), centroids).alias("cell_id"),
    )

    def cell_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        cell = pdf["cell_id"].to_numpy()[order]
        if max_cell is not None and len(ids) > max_cell:
            return pd.DataFrame(
                {"id": ids, "cell_id": cell, "is_kept": np.ones(len(ids), bool)}
            )
        V = np.array(list(pdf["v"].iloc[order]), dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        n = len(ids)
        dup = np.zeros(n, dtype=bool)
        # stripe the matmul: rows [a:b) only need columns < b (strictly-
        # lower-id comparisons), so peak memory is gemm_block × n, not n²
        for a in range(0, n, gemm_block):
            b = min(a + gemm_block, n)
            S = V[a:b] @ V[:b].T
            S = np.trunc(S * 10_000 + np.where(S >= 0, 0.5, -0.5)) / 10_000
            hit = S >= threshold
            # strict lower triangle relative to global positions
            local = np.arange(a, b)[:, None] > np.arange(b)[None, :]
            dup[a:b] = (hit & local).any(axis=1)
        return pd.DataFrame({"id": ids, "cell_id": cell, "is_kept": ~dup})

    return assigned.groupBy("cell_id").applyInPandas(
        cell_dedup, "id long, cell_id int, is_kept boolean"
    )


def dup_rate_by_source(
    df: DataFrame, content_col: str, id_col: str, source_col: str
) -> DataFrame:
    """Per-source corpus-health report: document count, distinct normalized
    fingerprints, and duplication rate (1 - distinct/docs) for every source
    — the first table a curation run checks to decide which sources need
    aggressive dedup before mixing.

    One aggregation shuffle on the source key; the distinct fingerprint
    count is ``count_distinct`` over the 16-byte md5 (partial aggregation
    applies; at extreme cardinality swap for ``approx_count_distinct`` —
    the :mod:`~pgferry_spark.operators.checks` HLL gate qualifies the
    sketch, same playbook)."""
    from pgferry_spark.functions.text import fingerprint

    return (
        df.select(
            F.col(source_col),
            F.col(id_col),
            fingerprint(F.col(content_col)).alias("__fp"),
        )
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.count_distinct(F.col("__fp")).alias("distinct_fps"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("distinct_fps") / F.col("docs"), 6),
        )
    )


# -- entity resolution (fuzzy name matching) ---------------------------------


def name_match_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    threshold: float = 0.6,
    gram: int = 3,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Entity-resolution fuzzy matching: pairs of rows whose names'
    character ``gram``-gram Jaccard similarity reaches ``threshold`` —
    ``(id_a, id_b, shared, jacc)``. The classic product-catalog /
    customer-record near-dup matcher.

    Blocking IS the candidate generator: names self-join only on shared
    grams (never all-pairs), the shared-gram count aggregates per pair,
    and the Jaccard closes from per-name gram-set sizes carried through
    the join — the set sizes ride the gram rows, so no join back against
    a sizes table. ``max_gram_df`` drops grams whose document frequency
    exceeds the cap before the join (broadcast whitelist semi-join) —
    the same dial as the winnow/minhash caps: a gram shared by half the
    catalog ("#00" in serial-numbered names) is blocking noise that
    bloats the join by sum(df²) while separating nothing."""
    from pyspark.sql.window import Window

    lower = F.lower(F.trim(F.col(name_col)))
    n = F.length(lower)
    grams_arr = F.array_distinct(
        F.when(
            n >= gram,
            F.transform(
                F.sequence(F.lit(1), n - gram + 1),
                lambda i: lower.substr(i, F.lit(gram)),
            ),
        ).otherwise(F.array(lower))
    )
    # explode_outer: the char-gram array is never empty (min 1 element),
    # but plain explode still infers a pushable size() > 0 filter that
    # clones the substring transform into the scan
    grams = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode_outer(grams_arr).alias("g"),
        F.size(grams_arr).alias("n_grams"),
    ).filter(F.col("g").isNotNull())
    if max_gram_df is not None:
        good = (
            grams.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_gram_df)
            .select("g")
        )
        grams = grams.join(F.broadcast(good), "g", "left_semi")
    a = grams.select(F.col("id").alias("id_a"), "g", F.col("n_grams").alias("na"))
    b = grams.select(F.col("id").alias("id_b"), "g", F.col("n_grams").alias("nb"))
    pairs = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jacc = F.round(
        F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 4
    )
    return (
        pairs.withColumn("jacc", jacc)
        .filter(F.col("jacc") >= threshold)
        .select("id_a", "id_b", F.col("shared").cast("bigint").alias("shared"), "jacc")
    )


def name_match_pairs_verified(
    df: DataFrame,
    name_col: str,
    id_col: str,
    threshold: float = 0.3,
    max_edit: int = 3,
    gram: int = 3,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Entity resolution with the classic block→verify split: gram-Jaccard
    blocking (:func:`name_match_pairs`, cheap and recall-oriented at a
    LOW threshold) followed by an exact Levenshtein verify at
    ``max_edit`` — the precision stage set-based similarity can't provide
    (anagram-ish names share every gram but need many edits).

    Shape: the verify joins names back onto the bounded candidate-pair
    table (pairs ≪ corpus by construction) and evaluates the built-in
    JVM ``levenshtein`` per pair — candidate-linear, exact, and
    SQL-portable (both engines implement the same edit-distance
    definition). Returns ``(id_a, id_b, jacc, edit_dist)``."""
    cands = name_match_pairs(
        df, name_col, id_col, threshold=threshold, gram=gram,
        max_gram_df=max_gram_df,
    )
    names = df.select(
        F.col(id_col).cast("long").alias("__nid"),
        F.lower(F.trim(F.col(name_col))).alias("__nm"),
    )
    return (
        cands.join(names.withColumnRenamed("__nid", "id_a"), "id_a")
        .withColumnRenamed("__nm", "__nm_a")
        .join(names.withColumnRenamed("__nid", "id_b"), "id_b")
        .withColumn("edit_dist", F.levenshtein("__nm_a", "__nm").cast("int"))
        .filter(F.col("edit_dist") <= max_edit)
        .select("id_a", "id_b", "jacc", "edit_dist")
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """Asymmetric n-gram containment for candidate pairs:
    ``containment_a = |A∩B| / |A|`` and the mirror for B — the
    excerpt/quote detector Jaccard structurally misses (a paragraph
    quoted inside a long article has tiny Jaccard but containment ≈ 1 on
    the paragraph side).  Same candidate-linear join shape as
    :func:`jaccard_pairs` (this is the verify step after blocking);
    every input pair appears, zero-intersection pairs at 0.0.
    Cache lifecycle: same convention as :func:`jaccard_pairs` — the
    internal candidate persist is caller-released (clearCache between
    corpus iterations in a long-lived driver)."""
    pairs, ex = _member_grams(df, pairs, content_col, id_col, n)
    a = ex.select(F.col(id_col).alias("id_a"), F.col("gram_count").alias("n_a"), "gram")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("gram_count").alias("n_b"), "gram")
    inter = (
        pairs.join(a, on="id_a")
        .join(b, on=["id_b", "gram"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = inter.select(
        "id_a", "id_b",
        F.round(F.col("inter") / F.col("n_a"), 4).alias("containment_a"),
        F.round(F.col("inter") / F.col("n_b"), 4).alias("containment_b"),
    )
    return (
        pairs.select("id_a", "id_b")
        .join(scored, on=["id_a", "id_b"], how="left")
        .select(
            "id_a", "id_b",
            F.coalesce("containment_a", F.lit(0.0)).alias("containment_a"),
            F.coalesce("containment_b", F.lit(0.0)).alias("containment_b"),
        )
    )


def pair_recall(
    exact_pairs: DataFrame, approx_pairs: DataFrame
) -> DataFrame:
    """Precision/recall scorecard for a candidate-pair generator against
    the exact pair set — 'measure, don't guess' for the dedup family's
    banding dials (the ANN twin is ``similarity.ann_recall``).  One row:
    ``(n_exact, n_approx, n_hit, recall, precision)``.  Both inputs are
    (id_a, id_b) tables with id_a < id_b; the comparison is one semi-join
    plus three 1-row aggregates, lazy end to end (zero construction
    jobs), cost linear in the pair sets."""
    e = exact_pairs.select("id_a", "id_b")
    ap = approx_pairs.select("id_a", "id_b")
    hit = e.join(ap, on=["id_a", "id_b"], how="semi")
    ne = e.agg(F.count(F.lit(1)).alias("n_exact"))
    na = ap.agg(F.count(F.lit(1)).alias("n_approx"))
    nh = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    # ANSI-safe: an empty side yields NULL, not a divide-by-zero error
    return (
        ne.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_exact", "n_approx", "n_hit",
            F.when(
                F.col("n_exact") > 0,
                F.round(F.col("n_hit") / F.col("n_exact"), 4),
            ).alias("recall"),
            F.when(
                F.col("n_approx") > 0,
                F.round(F.col("n_hit") / F.col("n_approx"), 4),
            ).alias("precision"),
        )
    )


def jaccard_all_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs word-n-gram Jaccard at ``threshold`` — gram-blocked
    (pairs sharing zero grams have Jaccard 0 and cannot reach a positive
    threshold, so the blocking loses nothing): the ground-truth pair set
    recall measurements compare against.  Cost is sum(gram_df²) — run it
    on the corpus at audit scale or on a sample at 100 TB; that sampled
    ground truth is exactly how production measures a blocker's recall
    (the candidate generators stay sum-of-capped-df², this is the
    auditor, not the pipeline)."""
    shingled = _fan_out(df, id_col, force=True).select(
        F.col(id_col), ngram_set(F.col(content_col), n).alias("grams")
    ).withColumn("gram_count", F.size("grams"))
    # explode_outer + not-null: see jaccard_pairs (same scan-clone pathology)
    ex = shingled.select(
        F.col(id_col), F.col("gram_count"), F.explode_outer("grams").alias("gram")
    ).filter(F.col("gram").isNotNull())
    a = ex.select(F.col(id_col).alias("id_a"), F.col("gram_count").alias("n_a"), "gram")
    b = ex.select(F.col(id_col).alias("id_b"), F.col("gram_count").alias("n_b"), "gram")
    inter = (
        a.join(b, on="gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        4,
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_corpus_near_dup(
    left: DataFrame,
    right: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle: int = 3,
    n: int = 3,
    min_jaccard: float = 0.5,
    hash_fn: str = "md5",
    max_bucket: int | None = None,
    release_cache: bool = False,
) -> DataFrame:
    """TWO-TABLE near-duplicate detection — document-level train-vs-benchmark
    decontamination: MinHash-LSH candidates across ``left`` (the small set:
    benchmarks, a holdout, yesterday's batch) and ``right`` (the corpus),
    verified by exact n-gram Jaccard.  Returns ``(left_id, right_id,
    jaccard)`` for pairs with ``jaccard >= min_jaccard``.

    The cross-table sibling of :func:`lsh_candidate_pairs` (self-join) and
    the *near*-dup upgrade of :func:`incremental_dedup` (exact-fingerprint
    anti-join): candidates come from a hash equi-join on (band_id,
    band_hash) between the two independently-bucketed sides — never
    |left| × |right| — and the verify cost is linear in candidates.  Both
    sides bucket with IDENTICAL minhash parameters so a true near-dup
    collides with banding probability, same recall math as the self-join
    family.

    ``max_bucket`` caps hot buckets on the CORPUS side (the side whose
    degenerate buckets explode the join); the left side is assumed small.
    At 100 TB the corpus bucket table is a once-built, bucketed-by-
    (band_id, band_hash) index the daily decontamination probe joins
    against — the same layout :func:`incremental_dedup` proves zero-
    exchange reads for.

    ``release_cache=True`` closes the internal persist's scope: the result
    is materialized eagerly (``utils.checkpoint_release``) and the
    candidate cache is unpersisted before return — the posture for a
    long-lived driver looping over many corpora. Default False keeps the
    lazy plan (composable, plan-shape-assertable); then the cache lives
    until the caller unpersists or ``spark.catalog.clearCache()``."""
    lb = lsh_bucket_table(
        left, content_col, id_col, num_hashes, bands, shingle, hash_fn
    ).withColumnRenamed(id_col, "left_id")
    rb = lsh_bucket_table(
        right, content_col, id_col, num_hashes, bands, shingle, hash_fn
    ).withColumnRenamed(id_col, "right_id")
    lb_cache = None
    if max_bucket is not None:
        from pyspark.sql import Window

        # One corpus MinHash pass, not two: the old groupBy-counts +
        # semi-join consumed rb twice, so the whole corpus-side shingle +
        # md5 pipeline executed twice per materialization (measured 27
        # parquet scans in the capped entry's plan). Instead:
        #   1. persist the SMALL side's buckets (left is the benchmark
        #      set by contract) and broadcast-semi-prune rb to buckets
        #      that appear on the left — buckets absent from lb produce
        #      no candidates regardless of the cap, and the semi-join
        #      keeps every corpus row of a surviving bucket, so the
        #      per-bucket counts the cap filters on are unchanged;
        #   2. count per bucket with a window on the (pruned) bucket
        #      table — same ``count <= max_bucket`` predicate, zero
        #      recompute. A degenerate bucket lands in one window task
        #      pre-filter, but only buckets colliding with the benchmark
        #      side reach the window at all, and the rows are three
        #      narrow columns (spill-bounded, never payload).
        lb = lb_cache = lb.persist()
        keys = lb.select("band_id", "band_hash").distinct()
        # ADVICE r14: the broadcast assumes `left` is the small
        # (benchmark) side. That contract is not enforceable here, and a
        # forced broadcast of a LARGE left's bands×|left| keys would
        # collect them all to the driver. Guard with the optimizer's
        # row estimate (plan statistics, never a driver job): above ~4M
        # keys (~80 MB framed), or with no estimate, drop the hint and
        # let the planner / AQE pick a distributed left-semi instead.
        est = _estimate_rows(left)
        if est is not None and est * bands <= 4_000_000:
            keys = F.broadcast(keys)
        rb = rb.join(keys, ["band_id", "band_hash"], "left_semi")
        rb = (
            rb.withColumn(
                "__n",
                F.count(F.lit(1)).over(
                    Window.partitionBy("band_id", "band_hash")
                ),
            )
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
    # persisted: consumed by the verify join AND the final left join —
    # without it the two MinHash passes re-run per consumer
    cand = (
        lb.join(rb, ["band_id", "band_hash"])
        .select("left_id", "right_id")
        .distinct()
        .persist()
    )

    def shingled(df, side):
        # shingle ONLY documents that appear in a candidate pair: the
        # verify must be linear in candidates, never corpus-sized — at
        # 100 TB exploding every corpus doc's grams to serve a few
        # thousand candidate pairs is the dominant (and needless) cost
        members = cand.select(
            F.col(f"{side}_id").alias(id_col)
        ).distinct()
        pruned = df.join(members, on=id_col, how="left_semi")
        g = _fan_out(pruned, id_col, force=True).select(
            F.col(id_col).alias(f"{side}_id"),
            ngram_set(F.col(content_col), n).alias("grams"),
        ).withColumn(f"n_{side}", F.size("grams"))
        # explode_outer, NOT explode: plain explode infers a pushable
        # size(grams) > 0 predicate and Catalyst clones the whole shingle
        # construction into the pre-fan-out single-partition scan filter
        # (the documented SCALE.md pathology — measured 4.5 s of the
        # verify stage at sf0.1); the null rows drop right here instead
        return g.select(
            f"{side}_id", f"n_{side}",
            F.explode_outer("grams").alias("gram"),
        ).filter(F.col("gram").isNotNull())

    a = shingled(left, "left")
    b = shingled(right, "right")
    inter = (
        cand.join(a, on="left_id")
        .join(b, on=["right_id", "gram"])
        .groupBy("left_id", "right_id", "n_left", "n_right")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("n_left") + F.col("n_right") - F.col("inter")
    )
    scored = inter.select(
        "left_id", "right_id", F.round(jac, 4).alias("jaccard")
    )
    out = (
        cand.join(scored, on=["left_id", "right_id"], how="left")
        .select(
            "left_id", "right_id",
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    if release_cache:
        from ..utils import checkpoint_release

        caches = [cand] if lb_cache is None else [cand, lb_cache]
        return checkpoint_release(out, *caches)
    return out


def remove_exact_substrings(
    df: DataFrame,
    content_col: str,
    id_col: str,
    w: int = 8,
) -> DataFrame:
    """Apply the :func:`exact_substring_spans` policy: reconstruct every
    document with its later-occurrence duplicated windows CUT OUT — the
    removal half of Lee et al. 2022's ExactSubstr dedup (the first
    corpus-wide occurrence of each repeated substring survives; every
    other copy's tokens are dropped).

    Output text is the surviving tokens re-joined with single spaces
    (canonical whitespace — the same normalization the span detector's
    tokenizer applies), so unflagged documents come back
    token-identical, not byte-identical. Returns
    ``(id, clean_text, n_tokens_removed)`` for EVERY input document.

    Scale shape: the spans table is tiny (one row per maximal duplicate
    span); the only corpus-sized operations are one posexplode over the
    token arrays and one per-document ordered re-aggregation
    (array_sort over that document's surviving tokens — bounded by
    document length, no global sort). The span join is an equi-join on
    the document id with a range predicate on the position — never a
    Cartesian."""
    from ..functions.text import tokens
    from ..utils import fan_out

    toks = fan_out(
        df.select(F.col(id_col), tokens(F.col(content_col)).alias("__toks")),
        id_col,
        force=True,
    ).select(
        id_col,
        F.posexplode_outer("__toks").alias("__pos", "__tok"),
    )
    spans = exact_substring_spans(df, content_col, id_col, w=w).select(
        id_col, "span_start", "span_end"
    )
    flagged = (
        toks.join(spans, id_col)
        .filter(
            (F.col("__pos") >= F.col("span_start"))
            & (F.col("__pos") < F.col("span_end"))
        )
        .select(id_col, "__pos")
        .distinct()
    )
    kept = toks.filter(F.col("__tok").isNotNull()).join(
        flagged, [id_col, "__pos"], "left_anti"
    )
    # n_tokens_removed derives from the ORIGINAL token count minus the
    # kept count, so `flagged` (whose lineage contains the corpus-wide
    # span aggregate) is consumed exactly ONCE — a second branch over it
    # would re-execute the whole spans pipeline per action
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = df.select(
        F.col(id_col), F.size(tokens(F.col(content_col))).alias("__n_tok")
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("__n_tok") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_tokens_removed"),
        )
    )
