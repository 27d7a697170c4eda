"""Similarity search over embedding columns (array<float>).

Two tiers:

* **Brute-force cosine top-k** — the exact baseline. Dot products run as a
  JVM-side ``aggregate`` fold over ``zip_with`` (no Python), so a scan over
  N embeddings is one codegen'd stage + a driver top-k.
* **Random-hyperplane LSH buckets** — the scale path: sign-bit signatures
  of seeded deterministic hyperplanes put similar vectors in the same
  bucket; queries probe only their bucket. Planes are generated driver-side
  from a seeded PRNG (NumPy) and broadcast as literals.

At 1000-executor scale, brute force is a full scan per query (fine for batch
scoring, wrong for interactive); the LSH table turns that into a
bucket-pruned lookup, and an IVF variant would replace random planes with
k-means centroids — same bucket-join shape.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(vec_col, query: list[float]):
    """Cosine similarity of a vector column against a literal query vector,
    evaluated as a sequential fold (deterministic FP order — matches the
    SQL oracle's list_dot_product)."""
    q = F.array(*[F.lit(float(v)) for v in query])
    qn = float(np.sqrt(np.dot(query, query)))
    v = vec_col.cast("array<double>")
    return _dot(v, q) / (_norm(v) * F.lit(qn))


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine similarity; deterministic tie-break on id."""
    scored = df.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col), query), 4).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def pairwise_cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, probe: DataFrame, k: int = 5
) -> DataFrame:
    """Batch scoring: for every probe row, exact top-k neighbors from df.
    Broadcast the (small) probe side; rank with a window per probe id."""
    from pyspark.sql.window import Window

    base = df.select(F.col(id_col).alias("base_id"), F.col(vec_col).cast("array<double>").alias("v"))
    probes = probe.select(F.col(id_col).alias("probe_id"), F.col(vec_col).cast("array<double>").alias("q"))
    crossed = base.crossJoin(F.broadcast(probes)).filter(F.col("base_id") != F.col("probe_id"))
    sim = _dot(F.col("v"), F.col("q")) / (_norm(F.col("v")) * _norm(F.col("q")))
    scored = crossed.select("probe_id", "base_id", F.round(sim, 4).alias("cosine_sim"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cosine_sim").desc(), F.col("base_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "base_id", "cosine_sim", "rank")
    )


def _round_half_up(x: float, nd: int) -> float:
    """Half-away-from-zero rounding of a double's shortest repr — the
    semantics both Spark's ``F.round`` (BigDecimal.valueOf + HALF_UP) and
    DuckDB's ``ROUND`` implement, unlike Python's banker's ``round``."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"), rounding=ROUND_HALF_UP))


def mmr_select(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    lam: float = 0.5,
    n_candidates: int = 50,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    greedily pick ``k`` items maximizing ``lam * rel(d) - (1 - lam) *
    max_{s in selected} cos(d, s)`` — relevance traded against redundancy,
    the standard diversity-aware selector for retrieval results and
    training-data subset picking.

    Two stages, only the first touches the corpus:

    1. **Candidates**: exact cosine top-``n_candidates`` (one scan + ordered
       take — same plan as :func:`cosine_topk`), keeping the vectors.
    2. **Greedy**: the k-step argmax loop runs over the BOUNDED candidate
       list in one Arrow batch (``mapInPandas`` over the single post-limit
       partition). The loop is inherently sequential — each pick changes
       the next step's scores — so it belongs on bounded metadata, never
       on the corpus; at 100 TB only stage 1 scales and it's the already-
       audited top-k scan shape.

    Determinism (oracle-exact): relevance arrives pre-rounded to 4 dp from
    the JVM fold; pair similarities use sequential Python-float dot
    products (same FP order as DuckDB's ``list_dot_product``) rounded to
    4 dp; the MMR score rounds to 6 dp before each argmax; ties break to
    the smaller id. Returns ``(id_col, mmr_rank, mmr_score)`` with rank 1
    carrying its relevance as the score (nothing selected yet to trade
    against).
    """
    if k < 1:
        raise ValueError("mmr_select requires k >= 1")
    cand = (
        df.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.round(cosine_similarity(F.col(vec_col), query), 4).alias("__rel"),
        )
        .orderBy(F.col("__rel").desc(), F.col(id_col).asc())
        .limit(n_candidates)
    )

    out_schema = f"{id_col} long, mmr_rank int, mmr_score double"

    def greedy(batches):
        import pandas as pd

        rows = []
        for pdf in batches:
            rows.extend(
                (int(r_id), list(map(float, r_v)), float(r_rel))
                for r_id, r_v, r_rel in zip(pdf[id_col], pdf["__v"], pdf["__rel"])
            )
        if not rows:
            return
        rows.sort(key=lambda r: (-r[2], r[0]))

        def seq_dot(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        norms = {rid: seq_dot(v, v) ** 0.5 for rid, v, _ in rows}
        selected = [rows[0]]
        picked = [(rows[0][0], 1, _round_half_up(rows[0][2], 6))]
        remaining = rows[1:]
        while remaining and len(picked) < k:
            best = None
            for rid, v, rel in remaining:
                # zero-norm guard (ADVICE r6): a zero vector has no
                # direction, so its pair similarity is defined as 0.0 —
                # matching cosine_similarity's degenerate-vector rule —
                # instead of raising ZeroDivisionError mid-greedy-stage.
                max_sim = max(
                    _round_half_up(
                        seq_dot(v, sv) / (norms[rid] * norms[sid]), 4
                    )
                    if norms[rid] > 0.0 and norms[sid] > 0.0
                    else 0.0
                    for sid, sv, _ in selected
                )
                score = _round_half_up(lam * rel - (1.0 - lam) * max_sim, 6)
                if best is None or (score, -rid) > (best[2], -best[0]):
                    best = (rid, v, score, rel)
            selected.append((best[0], best[1], best[3]))
            picked.append((best[0], len(picked) + 1, best[2]))
            remaining = [r for r in remaining if r[0] != best[0]]
        yield pd.DataFrame(picked, columns=[id_col, "mmr_rank", "mmr_score"])

    return cand.coalesce(1).mapInPandas(greedy, out_schema)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec_col, planes: np.ndarray):
    """Sign-bit LSH signature → one bigint bucket id per vector."""
    v = vec_col.cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(v, p) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseXOR(F.shiftleft(bit, i))
    return bucket


def lsh_bucket_batch_lazy(n_planes: int, seed: int = 42, dim: int | None = None):
    """Vectorized twin of :func:`lsh_bucket`: one Arrow-batched pandas UDF
    computing sign-bit signatures as a single ``V @ planes.T`` matmul.

    Use this when the signature feeds further plan surgery (band explodes,
    joins): expression-fold signatures get inlined by projection collapse
    into every consumer (n_planes × bands recomputation — the measured
    simhash pathology), while a UDF result column is computed once in its
    ArrowEvalPython node no matter how many places reference it.

    The hyperplanes are generated INSIDE the executor from
    ``(dim, n_planes, seed)`` — ``dim`` from the parameter when the caller
    knows it, else from the first vector of the first Arrow batch.
    ``random_hyperplanes`` is deterministic, so every worker derives
    byte-identical planes and results match the driver-generated
    formulation exactly.

    The point: operator **construction launches zero Spark jobs**.  The old
    shape probed ``df.select(vec).first()`` for the dimension — a blocking
    driver job scheduled before the main job, serialized ahead of every
    downstream stage (VERDICT r2 'What's wrong' #2)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    state: dict = {}

    def _load(d: int):
        planes = random_hyperplanes(d, n_planes, seed)
        weights = (
            np.uint64(1) << np.arange(n_planes, dtype=np.uint64)
        ).astype(np.float64)
        state["planes"], state["weights"] = planes, weights

    if dim is not None:
        _load(dim)

    def _bucket(vs):
        out = np.zeros(len(vs), dtype=np.int64)
        if len(vs):
            if "planes" not in state:
                _load(len(vs.iloc[0]))
            V = np.array(list(vs), dtype=np.float64)
            bits = (V @ state["planes"].T >= 0).astype(np.float64)
            out[:] = (bits @ state["weights"]).astype(np.int64)
        return pd.Series(out)

    _bucket.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf(_bucket, "long")


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    Returns the same schema as cosine_topk (may miss true neighbors —
    that's the recall/cost trade the bucket index buys)."""
    planes = random_hyperplanes(len(query), n_planes, seed)
    qbits = 0
    for i, plane in enumerate(planes):
        if float(np.dot(query, plane)) >= 0:
            qbits |= 1 << i
    tagged = df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    in_bucket = tagged.filter(F.col("bucket") == qbits)
    return cosine_topk(in_bucket, vec_col, id_col, query, k)


def lsh_topk_multiprobe(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Multi-probe LSH top-k: probe the query's bucket AND the ``n_probes-1``
    buckets whose signatures differ in the single least-confident bit (the
    hyperplane with the smallest |margin| for the query). Standard recall
    dial: more probes ≈ union of adjacent buckets, approaching brute force
    without rebuilding the table — at scale this turns one bucket-pruned
    lookup into ``n_probes`` of them, still corpus-size-independent."""
    planes = random_hyperplanes(len(query), n_planes, seed)
    margins = planes @ np.asarray(query, dtype=float)
    qbits = 0
    for i, m in enumerate(margins):
        if m >= 0:
            qbits |= 1 << i
    # flip bits in ascending |margin| order — least-confident planes first
    flips = np.argsort(np.abs(margins))
    probe_buckets = [qbits] + [qbits ^ (1 << int(i)) for i in flips[: n_probes - 1]]
    tagged = df.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    in_buckets = tagged.filter(F.col("bucket").isin(probe_buckets))
    return cosine_topk(in_buckets, vec_col, id_col, query, k)


def kmeans_centroids(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 8, seed: int = 42,
    fit_sample: int | None = None,
) -> list[list[float]]:
    """Fit MLlib KMeans (fixed seed) over the embedding column and return
    the centroid list driver-side — the PRODUCTION centroid source for
    :func:`ivf_assign` / :func:`ivf_pq_index`, drop-in for the
    deterministic ``ivf_centroids`` stand-in (same C×dim shape, same
    broadcast-literal consumption).  The fit is the index *build* (one
    corpus pass per iteration; the driver holds only k×dim floats); every
    consumer stays map-only.  Centroid floats are iteration-order
    sensitive, so queries built on these are rows-only at the oracle gate
    — the ``ann_recall`` scorecard is the verification instrument
    (docs/SCALE.md records deterministic-vs-kmeans recall@10)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if fit_sample is not None:
        # md5-ordered deterministic sample: centroid quality needs a
        # representative subset, not the corpus — every Lloyd iteration is
        # a full pass over the fit frame, so at 100 TB an unbounded fit
        # would cost iterations x corpus scans for no recall gain (same
        # bounded-sample posture as pq_codebooks_kmeans)
        df = df.orderBy(F.md5(F.col(id_col).cast("string"))).limit(int(fit_sample))
    feat = df.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(feat)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_assign_kmeans(
    df: DataFrame, vec_col: str, id_col: str, n_cells: int = 8, seed: int = 42,
    fit_sample: int | None = None,
) -> DataFrame:
    """IVF cell assignment with REAL centroids: MLlib KMeans (fixed seed)
    over the embedding column, then **map-only** nearest-centroid
    assignment — the fitted centroids are already driver-side (model
    metadata), so they fold into the plan as literals and each row takes a
    per-row argmin over C rounded L2 distances; no join, no window, no
    Exchange.

    The KMeans fit is the index *build* (one pass over the corpus per
    iteration, driver holds k×dim centroids); assignment is the *load*
    step. Returns (id, cell_id, dist) — write it bucketed by cell_id so a
    probe reads one cell."""
    cents = kmeans_centroids(df, vec_col, id_col, n_cells, seed,
                             fit_sample=fit_sample)
    best = _nearest_centroid(F.col(vec_col), cents, metric="euclidean")
    return df.select(
        F.col(id_col),
        (-best["neg_id"]).alias("cell_id"),
        (-best["score"]).alias("dist"),
    )


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF cell assignment with deterministic centroids (the vectors whose id
    is < ``n_cells`` — a stand-in for k-means centroids that keeps the
    operator reproducible and oracle-verifiable; swap the centroid source
    for MLlib KMeans output in production, same shape).

    Returns (id, cell_id). Assignment is **map-only**: the C centroids are
    index metadata (C×dim floats), collected once driver-side and folded
    into the plan as literals, so each row computes C dot products and an
    argmax in registers — zero shuffle, zero join, one scan.  The earlier
    crossJoin+window formulation shuffled C copies of every row just to
    take a per-row argmax; at 100 TB with C=1024 that is 1024× the corpus
    through an Exchange.  Pass ``centroids`` (e.g. from
    :func:`ivf_centroids`) to make construction launch zero jobs.
    """
    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_cells)
    return df.select(
        F.col(id_col), _cell_of(F.col(vec_col), centroids).alias("cell_id")
    )


def ivf_centroids(df: DataFrame, vec_col: str, id_col: str, n_cells: int = 8) -> list[list[float]]:
    """Collect the deterministic centroid list (id < n_cells) driver-side —
    C×dim floats, broadcast-sized by construction (the IVF index metadata)."""
    rows = (
        df.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    by_id = {r["cid"]: [float(x) for x in r["v"]] for r in rows}
    return [by_id[i] for i in sorted(by_id)]


def ivf_query_cell(centroids: list[list[float]], query: list[float]) -> int:
    """Driver-side query-cell selection: argmax of the (4dp-rounded) dot
    product, ties to the lowest cell id — byte-identical to the
    :func:`ivf_assign` ranking, without touching the corpus."""
    import math

    best_cell, best_dot = 0, None
    for i, c in enumerate(centroids):
        d = float(np.dot(query, c))
        d = math.trunc(d * 10_000 + (0.5 if d >= 0 else -0.5)) / 10_000  # half-away 4dp
        if best_dot is None or d > best_dot:
            best_cell, best_dot = i, d
    return best_cell


def _nearest_centroid(vec_col, centroids: list[list[float]], metric: str = "dot"):
    """Struct column ``(score, neg_id)`` of the winning centroid for a
    vector, computed as per-row register math against literal centroids —
    zero shuffle.

    ``metric="dot"`` maximizes the 4dp-rounded dot product (the
    :func:`ivf_assign` ranking); ``metric="euclidean"`` minimizes the
    4dp-rounded L2 distance (score carries the *negated* distance so
    ``array_max`` still picks the winner).  Ties break to the LOWEST cell
    id in both cases via ``neg_id`` maximization — byte-identical to the
    old window ``orderBy(score, cell_id)`` rules, so oracles are unchanged.
    """
    if metric not in ("dot", "euclidean"):  # pragma: no cover - caller bug
        raise ValueError(f"unknown metric {metric!r}")
    v = vec_col.cast("array<double>")
    # one nested-array literal + transform, not C unrolled score trees:
    # the unrolled form costs O(cells x dim) py4j driver calls to build
    # and a per-cell-duplicated codegen unit (see kmeans_cell_of). The
    # per-element float ops (zip_with products / squared diffs, the
    # sequential 0.0 + x fold, 4dp round) are identical.
    cents = F.lit([[float(x) for x in c] for c in centroids])

    def one(c, i):
        if metric == "dot":
            score = F.round(_dot(v, c), 4)
        else:
            d2 = F.aggregate(
                F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            score = -F.round(F.sqrt(d2), 4)
        return F.struct(score.alias("score"), (-i).alias("neg_id"))

    # struct max orders by (score, neg_id): best score, ties -> lowest cell id
    return F.array_max(F.transform(cents, one))


def _cell_of(vec_col, centroids: list[list[float]]):
    """Column expression: the IVF cell of a vector against literal centroids
    — per-row register math (C dot products + an argmax), zero shuffle.
    Rounding/tie rules match :func:`ivf_assign` exactly."""
    return -_nearest_centroid(vec_col, centroids, metric="dot")["neg_id"]


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    query_cell: int,
    k: int = 10,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k probing one IVF cell.

    Probe plans, fastest first:

    * ``centroids`` given — membership is decided per-row against the
      broadcast centroid literals: ONE filtered map-only scan + top-k, no
      join, no window, no second corpus pass. This is the plan a probe
      should run when the assignment isn't materialized.
    * ``assign`` given — semi-join against a precomputed assignment table
      (at scale: written bucketed by cell_id so the probe reads one cell's
      partitions, not the corpus).
    * neither — computes the assignment inline (index-build + probe fused;
      fine for one-off use, wrong shape for repeated probes).
    """
    if centroids is not None:
        members = df.filter(_cell_of(F.col(vec_col), centroids) == query_cell)
        return cosine_topk(members, vec_col, id_col, query, k)
    if assign is None:
        assign = ivf_assign(df, vec_col, id_col, n_cells)
    members = df.join(
        assign.filter(F.col("cell_id") == query_cell).select(id_col), on=id_col
    )
    return cosine_topk(members, vec_col, id_col, query, k)


def kmeans_deterministic(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    n_iters: int = 3,
    dp: int = 6,
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means — every float decision
    is made reproducible, so the trained assignment is oracle-verifiable
    (unlike MLlib's, whose mean reductions depend on partitioning):

    - **inputs quantized once**: components rounded to ``dp`` decimals,
      so the later decimal casts are exact regardless of engine rounding
      mode;
    - **assignment**: per-row argmin of the SEQUENTIAL-fold squared L2
      distance against broadcast centroid literals, rounded to ``dp``
      before the argmin, ties to the lower cell id — map-only, zero
      shuffle (the ivf_assign plan);
    - **means**: per-(cell, dim) sums accumulate in DECIMAL(38,12) —
      EXACT arithmetic, hence order-independent: the result cannot
      depend on partition count or reduction order, which is the whole
      reason MLlib k-means is not reproducible. One aggregate shuffle
      per iteration whose output is n_cells x dim rows (bounded index
      metadata); division and the final ``dp`` rounding happen once,
      driver-side;
    - **empty clusters keep their previous centroid**.

    Init = the quantized vectors with id < n_cells. Returns the
    assignment ``(id_col, cell_id)`` under the final centroids. At
    100 TB each iteration is one corpus scan + one bounded aggregate —
    the textbook Lloyd shape — and determinism costs only the decimal
    cast in the aggregate.
    """
    cents = kmeans_deterministic_centroids(
        df, vec_col, id_col, n_cells, n_iters, dp
    )
    # quantize ONCE in its own projection: referencing the quantized
    # column (not the quantize expression) keeps the per-cell distance
    # trees from each duplicating the 64-element transform — 8x smaller
    # codegen and one round pass instead of eight
    q = F.transform(F.col(vec_col).cast("array<double>"), lambda x: F.round(x, dp))
    return df.select(F.col(id_col), q.alias("__vq")).select(
        F.col(id_col),
        kmeans_cell_of(F.col("__vq"), cents, dp, prequantized=True).alias(
            "cell_id"
        ),
    )


def kmeans_cell_of(
    vec_col, centroids: list[list[float]], dp: int = 6, prequantized: bool = False
):
    """Column expression: the deterministic-k-means cell of a vector —
    quantize to ``dp``, then argmin of the sequential-fold squared L2
    against the centroid literals, distance rounded to ``dp`` before the
    argmin, ties to the lower cell id. Map-only register math. Pass
    ``prequantized=True`` when the column already holds ``dp``-rounded
    doubles (quantizing in a separate projection keeps the transform out
    of every per-cell distance tree)."""
    if prequantized:
        vq = vec_col
    else:
        vq = F.transform(
            vec_col.cast("array<double>"), lambda x: F.round(x, dp)
        )
    # ONE nested-array literal + a transform loop, not n_cells unrolled
    # distance trees: the unrolled form cost O(cells x dim) py4j calls to
    # BUILD (measured ~1.3 s per training iteration at 8x64 — driver
    # Python, not Spark) and a giant codegen unit to compile per
    # iteration. The per-element float ops are untouched: same zip_with
    # (a-b)*(a-b), same sequential 0.0 + x fold, same round-before-argmin,
    # same ties-to-lower-cell via the (score, neg_id) struct max.
    cents = F.lit([[float(x) for x in c] for c in centroids])
    entries = F.transform(
        cents,
        lambda c, i: F.struct(
            (
                -F.round(
                    F.aggregate(
                        F.zip_with(vq, c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    dp,
                )
            ).alias("score"),
            (-i).alias("neg_id"),
        ),
    )
    return (-F.array_max(entries)["neg_id"]).cast("int")


def kmeans_deterministic_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    n_iters: int = 3,
    dp: int = 6,
) -> list[list[float]]:
    """The trained centroids of :func:`kmeans_deterministic` — index
    metadata (n_cells x dim floats), computed with the same
    quantize/argmin/decimal-mean discipline and returned driver-side for
    reuse across probes."""
    cents, _ = kmeans_deterministic_fit(
        df, vec_col, id_col, n_cells, n_iters, dp
    )
    return cents


def kmeans_deterministic_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    n_iters: int = 3,
    dp: int = 6,
):
    """Train the deterministic k-means and return ``(centroids,
    init_rows)`` — ``init_rows`` are the n_cells seed rows ``(id_col,
    vec_col raw, __vq quantized)`` already collected for the init, so a
    caller that also needs one of the seed vectors driver-side (e.g. an
    ANN probe whose query is vector 0) reuses them instead of launching
    its own ``first()`` job.

    r15 (guide §1.2/§2.3 — the fit was driver-job-bound, not
    data-bound: ~0.9 s/iteration on a 2000-row CACHED table at sf0.1):

    * the training-loop collects run with AQE off and ONE final shuffle
      partition, scoped to the loop and restored after.  This is
      scale-independent, not a local[32] tune: each iteration's
      aggregate output is exactly ``n_cells × dim`` rows (index
      metadata) REGARDLESS of corpus size, so a single post-shuffle
      partition is the right shape at any scale, and AQE's
      stage-by-stage re-optimization choreography (~2 extra driver
      jobs per iteration here) has nothing to improve on a
      bounded-metadata aggregate.  The corpus-side map stage's
      parallelism comes from the input partitioning and is untouched.
      Measured at sf0.1: 3-iteration fit 5.0 s → 2.2 s, centroids
      byte-identical.
    * convergence early-exit: when an iteration reproduces the previous
      centroids exactly, the remaining iterations are a fixed point and
      are skipped — byte-identical result by construction.  (At the
      bench SFs the 3-iteration fits have not yet converged, so this is
      a guard for other data, not a measured win.)
    * init collects the seed rows (raw + quantized) straight off ``df``
      — one tiny job — instead of filtering the persisted fit table;
      the fit table then materializes inside iteration 1's map stage,
      same total work, one less scheduling wave.

    Per-iteration float semantics are untouched: same quantize, same
    sequential-fold argmin, same DECIMAL(38,12) exact (order-
    independent) sums, same half-up rounding of the mean."""
    from pyspark.storagelevel import StorageLevel

    q = F.transform(
        F.col(vec_col).cast("array<double>"), lambda x: F.round(x, dp)
    )
    # measured r15: fan_out(df) before the persist (to parallelize the
    # interpreted HOF argmin past a single-file 1-partition scan) was
    # A/B'd and REJECTED — the added repartition job + 32-task
    # scheduling per iteration ate the map-parallelism win at sf0.1
    # (medians 2.69 s → 3.19 s), and at scale the input has real splits
    # anyway.  The fit is driver-job-latency-bound, not compute-bound.
    base = df.select(F.col(id_col), q.alias("__vq")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    init = (
        df.filter(F.col(id_col) < n_cells)
        .select(F.col(id_col), F.col(vec_col), q.alias("__vq"))
        .orderBy(id_col)
        .collect()
    )
    cents = [[float(x) for x in r["__vq"]] for r in init]
    if len(cents) != n_cells:
        # ADVICE r6: non-contiguous ids (gaps below n_cells) would leave
        # the init list short and an empty cell would later hit
        # cents[i] with i >= len(cents) — fail loudly at init instead.
        base.unpersist()
        raise ValueError(
            f"deterministic k-means init needs exactly one row per id in "
            f"[0, {n_cells}); found {len(cents)} — ids must be contiguous "
            f"from 0 (rank/zipWithIndex the id column first)"
        )

    spark = df.sparkSession
    _LOOP_CONFS = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
    }
    saved = {k: spark.conf.get(k) for k in _LOOP_CONFS}
    for k, v in _LOOP_CONFS.items():
        spark.conf.set(k, v)
    try:
        for _ in range(n_iters):
            assigned = base.select(
                F.col("__vq").alias("__vq"),
                kmeans_cell_of(
                    F.col("__vq"), cents, dp, prequantized=True
                ).alias("cell_id"),
            )
            stats = (
                assigned.select(
                    "cell_id", F.posexplode("__vq").alias("pos", "val")
                )
                .groupBy("cell_id", "pos")
                .agg(
                    F.sum(F.col("val").cast("decimal(38,12)")).alias("s"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            by_cell: dict[int, dict[int, float]] = {}
            for r in stats:
                by_cell.setdefault(r["cell_id"], {})[r["pos"]] = _round_half_up(
                    float(r["s"]) / r["n"], dp
                )
            new_cents = [
                [by_cell[i][p] for p in sorted(by_cell[i])]
                if i in by_cell
                else cents[i]  # empty cluster keeps its previous centroid
                for i in range(n_cells)
            ]
            if new_cents == cents:
                break  # fixed point: remaining iterations are identity
            cents = new_cents
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        base.unpersist()
    return cents, init


def quantize_embeddings(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric int8 quantization per vector: ``q_i = round(x_i * 127 /
    max|x|)`` with the per-vector scale kept alongside — the standard 4x
    memory cut (float32 -> int8) applied before ANN indexes at corpus
    scale, where the embedding table itself is the dominant storage cost.

    Map-only Column expressions (transform/aggregate folds), no shuffle,
    no UDF. Output carries the quantized codes as a CSV string (engine-
    portable representation), the scale, and the L2 reconstruction error
    so a pipeline can qualify the precision loss before committing the
    index build. Zero vectors quantize to all-zero codes with scale 0.

    The raw working column is ``__scale`` and only the output edge
    aliases it to ``scale``: putting ``round(...) AS scale`` in the same
    select list as an expression referencing ``scale`` would trip
    Spark's lateral column alias resolution and silently compute the
    reconstruction error against the ROUNDED scale (observed: a 6th-
    decimal error drift vs the oracle).
    """
    v = F.col(vec_col).cast("array<double>")
    scale = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    d = df.select(F.col(id_col), v.alias("__v"), scale.alias("__scale"))
    q = F.when(
        F.col("__scale") == 0.0,
        F.transform(F.col("__v"), lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            F.col("__v"),
            lambda x: F.round(x * F.lit(127.0) / F.col("__scale"), 0).cast("int"),
        )
    )
    d = d.withColumn("__q", q)
    recon = F.transform(
        F.col("__q"), lambda qi: qi.cast("double") * F.col("__scale") / F.lit(127.0)
    )
    err = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("__v"), recon, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return d.select(
        id_col,
        F.round(F.col("__scale"), 6).alias("scale"),
        F.array_join(F.col("__q"), ",").alias("qvec_csv"),
        F.round(err, 6).alias("recon_err"),
    )


def pq_codebooks(
    df: DataFrame, vec_col: str, id_col: str, m: int = 4, k: int = 16
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: subspace ``s`` uses the
    ``s``-th slice of the vectors whose id is < ``k`` (the same reproducible
    centroid stand-in as :func:`ivf_centroids` — swap for per-subspace
    k-means in production, identical shape). Returns ``m`` codebooks of
    ``k`` centroids each; m*k*(dim/m) floats — index metadata, driver-sized
    by construction."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .filter(F.col(id_col) < k)
        .orderBy(id_col)
        .collect()
    )
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        [list(r["v"][s * d : (s + 1) * d]) for r in rows] for s in range(m)
    ]


def pq_codebooks_kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    sample: int = 2048,
    seed: int = 42,
    iters: int = 20,
) -> list[list[list[float]]]:
    """PRODUCTION PQ codebooks: per-subspace Lloyd k-means trained on a
    bounded deterministic corpus sample — the FAISS training recipe.  The
    sample is the ``sample`` lowest ``md5(id)`` rows (stable across runs
    and engines, no RNG), collected driver-side ONCE: codebook training
    is index *metadata* work, and at 100 TB it still runs on a bounded
    sample, never the corpus.  Init is k-means++-style but deterministic
    (greedy farthest-point from the seed row); ties and float order are
    fixed, so the codebooks are reproducible for a given corpus.

    Measured at sf0.01 (docs/SCALE.md): on the synthetic near-random
    corpus trained codebooks land within noise of the deterministic id<k
    stand-in (~0.2-0.3 ADC recall@10 at m=8 either way — the distortion
    floor is the data's lack of cluster structure, not the codebook);
    the dial that actually moves recall there is the exact re-rank
    (:func:`ivf_pq_topk_rerank`, 0.7-0.8).  On real clustered embeddings
    the trained books are the standard win, and they are what a
    production index build should use.
    """
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = []
    for s in range(m):
        S = X[:, s * d : (s + 1) * d]
        # deterministic farthest-point init
        cents = [S[seed % len(S)]]
        for _ in range(1, k):
            dist = np.min(
                [((S - c) ** 2).sum(axis=1) for c in cents], axis=0
            )
            cents.append(S[int(np.argmax(dist))])
        C = np.array(cents)
        for _ in range(iters):
            dists = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(dists, axis=1)
            newC = np.array(
                [
                    S[assign == j].mean(axis=0) if (assign == j).any() else C[j]
                    for j in range(k)
                ]
            )
            if np.allclose(newC, C):
                C = newC
                break
            C = newC
        books.append([[float(x) for x in c] for c in C])
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 4,
    k: int = 16,
    codebooks: list[list[list[float]]] | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Product quantization: split each vector into ``m`` subvectors, encode
    each against its subspace codebook (nearest centroid by L2), and report
    the total reconstruction error — the classic ANN memory layout (a
    64-dim float vector becomes ``m`` single-byte codes, 64x smaller, and
    asymmetric distance scans run on looked-up partial distances).

    Returns ``(id, codes array<int>, recon_err)``.

    Map-only either way: zero shuffle, zero join, one scan, whatever the
    corpus size. The codebooks are index metadata (m*k*(dim/m) floats);
    at 100 TB they come from per-subspace k-means over a sample, and the
    encode pass is still this same single scan. Distances round to 4dp
    before the argmin (ties -> lowest code) so the encoding is
    reproducible bit-for-bit against the ANSI-SQL oracle.

    ``impl="arrow"`` (production default) computes all m×k subspace
    distances per Arrow batch as ONE BLAS ``||x-c||² = ||x||² - 2x·c +
    ||c||²`` matmul — measured 2.34 s → ~0.3 s at sf0.1, because the
    m×k fold-expression form is interpreted per row (the SCALE.md HOF
    lesson). ``impl="expr"`` keeps the pure-Column twin: bit-identical
    output (test-pinned), and the form the SQL oracle mirrors."""
    if codebooks is None:
        codebooks = pq_codebooks(df, vec_col, id_col, m, k)
    if impl == "arrow":
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import (
            ArrayType, DoubleType, IntegerType, LongType, StructField, StructType,
        )

        d = len(codebooks[0][0])
        books = [np.array(b, dtype=np.float64) for b in codebooks]
        out_schema = StructType([
            StructField("id", LongType()),
            StructField("codes", ArrayType(IntegerType())),
            StructField("recon_err", DoubleType()),
        ])

        def encode(it):
            for pdf in it:
                if pdf.empty:  # an empty Arrow batch would make V 1-D
                    continue
                ids = pdf["id"].to_numpy(dtype=np.int64)
                V = np.array(list(pdf["v"]), dtype=np.float64)
                n = len(ids)
                codes = np.empty((n, len(books)), dtype=np.int32)
                errs = np.zeros(n, dtype=np.float64)
                for s, B in enumerate(books):
                    X = V[:, s * d : (s + 1) * d]
                    # direct-difference form (not ||x||²-2xc+||c||²): closest
                    # FP behavior to the fold-expression twin, so the 4dp
                    # rounding agrees at the boundary; n×k×d scratch is
                    # batch-bounded
                    diff = X[:, None, :] - B[None, :, :]
                    dist = np.sqrt((diff * diff).sum(axis=2))
                    dist = np.floor(dist * 10_000 + 0.5) / 10_000  # half-up 4dp
                    codes[:, s] = np.argmin(dist, axis=1)  # first min = lowest code
                    errs += dist[np.arange(n), codes[:, s]] ** 2
                errs = np.floor(np.sqrt(errs) * 10_000 + 0.5) / 10_000
                yield pd.DataFrame(
                    {"id": ids, "codes": list(codes), "recon_err": errs}
                )

        return (
            df.select(
                F.col(id_col).cast("long").alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
            )
            .mapInPandas(encode, out_schema)
            .withColumnRenamed("id", id_col)
        )
    v = F.col(vec_col).cast("array<double>")
    code_cols, dist_cols = [], []
    for s, book in enumerate(codebooks):
        d = len(book[0])
        sub = F.slice(v, s * d + 1, d)
        best = _nearest_centroid(sub, book, metric="euclidean")
        code_cols.append((-best["neg_id"]).cast("int"))
        dist_cols.append(-best["score"])  # euclidean score is negated dist
    err = F.round(
        F.sqrt(
            sum((dc * dc for dc in dist_cols), F.lit(0.0))
        ),
        4,
    )
    return df.select(
        F.col(id_col),
        F.array(*code_cols).alias("codes"),
        err.alias("recon_err"),
    )


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 24,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Batch kNN JOIN between two tables: for every query vector, its
    top-k most-similar corpus vectors among shared LSH band buckets —
    ``(query_id, corpus_id, cosine_sim, rank)``.  The batch-retrieval
    shape (a day's queries against the document index at once), distinct
    from :func:`lsh_topk` (one query, driver-side) and
    :func:`knn_graph` (self-join): both sides bucket with the SAME
    deterministic planes, candidates come from a hash equi-join on
    (band, band_val) — never |queries| × |corpus| — and a per-query
    window takes the top-k after a distinct collapses multi-band hits.
    Construction launches zero driver jobs (planes derive executor-side
    from (dim, n_planes, seed)); recall dials are bands/width, the same
    trade documented on :func:`knn_graph`."""
    from pyspark.sql.window import Window

    width = n_planes // bands

    def banded(df, side):
        sig = df.select(
            F.col(id_col).cast("long").alias(f"{side}_id"),
            F.col(vec_col).cast("array<double>").alias(f"{side}_v"),
            lsh_bucket_batch_lazy(n_planes, seed, dim)(
                F.col(vec_col).cast("array<double>")
            ).alias("__sig"),
        )
        structs = [
            F.struct(
                F.lit(bi).alias("band_id"),
                F.shiftrightunsigned(F.col("__sig"), bi * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("band_val"),
            )
            for bi in range(bands)
        ]
        return sig.select(
            f"{side}_id", f"{side}_v", F.explode(F.array(*structs)).alias("bb")
        ).select(
            f"{side}_id", f"{side}_v",
            F.col("bb.band_id").alias("band_id"),
            F.col("bb.band_val").alias("band_val"),
        )

    q = banded(queries, "query")
    c = banded(corpus, "corpus")
    cand = (
        q.join(c, ["band_id", "band_val"])
        .select("query_id", "corpus_id", "query_v", "corpus_v")
        .dropDuplicates(["query_id", "corpus_id"])
    )
    sim = F.round(
        _dot(F.col("query_v"), F.col("corpus_v"))
        / (_norm(F.col("query_v")) * _norm(F.col("corpus_v"))),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        cand.select("query_id", "corpus_id", sim.alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def margin_mine(
    left: DataFrame,
    right: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    threshold: float = 1.05,
    n_planes: int = 24,
    bands: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix bitext recipe): candidate pairs come from the banded
    two-table kNN join, and each is scored by the MARGIN —

        margin(x, y) = cos(x, y) / ((avg_k cos(x, ·) + avg_k cos(·, y)) / 2)

    — the ratio of the pair's similarity to the mean similarity of each
    side's own neighborhood.  Absolute-cosine thresholds fail at corpus
    scale because neighborhood density varies (a generic sentence is
    close to everything); the margin normalizes by local density, which
    is why it is the standard mined-bitext filter.  Returns
    ``(left_id, right_id, cosine_sim, margin)`` for pairs with margin ≥
    ``threshold``.

    Scale shape: two banded kNN joins (forward and backward — candidates
    linear in bucket collisions, never |L|×|R|), two k-row-bounded
    per-id averages, and a broadcast-friendly join back onto the forward
    pairs.  All cosines are 4dp-rounded before averaging so the oracle
    replays them exactly; the margin rounds once at the edge."""
    # persisted: fwd feeds BOTH the forward-neighborhood average and the
    # final scored join — unpersisted, the whole banded kNN join (bucket
    # join + cosines + top-k window) executed twice per materialization.
    # Bounded at k rows per query id (top-k output), so the cache is
    # candidate-sized, never corpus-sized; lifecycle matches the other
    # internal persists (caller/bench clears, or session LRU evicts).
    fwd = lsh_knn_join(
        left, right, vec_col, id_col, k=k, n_planes=n_planes, bands=bands,
        seed=seed, dim=dim,
    ).persist()
    bwd = lsh_knn_join(
        right, left, vec_col, id_col, k=k, n_planes=n_planes, bands=bands,
        seed=seed, dim=dim,
    )
    fa = fwd.groupBy("query_id").agg(F.avg("cosine_sim").alias("__a_fwd"))
    ba = (
        bwd.groupBy("query_id")
        .agg(F.avg("cosine_sim").alias("__a_bwd"))
        .withColumnRenamed("query_id", "corpus_id")
    )
    margin = F.round(
        F.col("cosine_sim") / ((F.col("__a_fwd") + F.col("__a_bwd")) / 2.0), 4
    )
    return (
        fwd.join(fa, "query_id")
        .join(ba, "corpus_id")
        .select(
            F.col("query_id").alias("left_id"),
            F.col("corpus_id").alias("right_id"),
            "cosine_sim",
            margin.alias("margin"),
        )
        .filter(F.col("margin") >= threshold)
    )


def ivf_pq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Build the IVF-PQ index table ``(id, cell_id, codes)`` in ONE scan —
    the FAISS-IVFADC storage layout re-expressed on DataFrames: every
    vector is routed to its IVF cell (argmax dot against the broadcast
    centroids) and compressed to ``m`` one-byte PQ codes, so the probe
    path (:func:`ivf_pq_topk`) never touches the raw vectors.

    Scale shape: both the assignment and the encode are per-Arrow-batch
    BLAS against literal index metadata (C×dim + m×k×(dim/m) floats) —
    zero shuffle, zero join, one pass over the corpus whatever its size.
    At 100 TB the output is written ``partitionBy/bucketBy(cell_id)`` so a
    probe reads one cell's files; the index is ~m bytes + a key per
    vector, a ~dim·4/m× compression of the embedding table.

    Rounding/tie rules are byte-identical to :func:`ivf_assign` (4dp
    half-up dot, ties to lowest cell) and :func:`pq_encode` (4dp half-up
    L2, ties to lowest code), so the ANSI-SQL oracle replays both from
    the same centroid/codebook literals.
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_cells)
    if codebooks is None:
        codebooks = pq_codebooks(df, vec_col, id_col, m, k)
    C = np.array(centroids, dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    d = books[0].shape[1]
    out_schema = StructType([
        StructField("id", LongType()),
        StructField("cell_id", IntegerType()),
        StructField("codes", ArrayType(IntegerType())),
    ])

    def build(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            V = np.array(list(pdf["v"]), dtype=np.float64)
            dots = V @ C.T
            dots = np.trunc(dots * 10_000 + np.where(dots >= 0, 0.5, -0.5)) / 10_000
            cells = np.argmax(dots, axis=1).astype(np.int32)  # first max = lowest
            n = len(ids)
            codes = np.empty((n, len(books)), dtype=np.int32)
            for s, B in enumerate(books):
                X = V[:, s * d : (s + 1) * d]
                diff = X[:, None, :] - B[None, :, :]
                dist = np.sqrt((diff * diff).sum(axis=2))
                dist = np.floor(dist * 10_000 + 0.5) / 10_000
                codes[:, s] = np.argmin(dist, axis=1)
            yield pd.DataFrame({"id": ids, "cell_id": cells, "codes": list(codes)})

    return (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .mapInPandas(build, out_schema)
        .withColumnRenamed("id", id_col)
    )


def pq_adc_tables(
    codebooks: list[list[list[float]]], query: list[float]
) -> list[list[float]]:
    """Asymmetric-distance lookup tables for one query: ``dt[s][j]`` is the
    4dp-half-up-rounded L2 distance between the query's ``s``-th subvector
    and codebook centroid ``j`` — m×k driver-side floats computed once per
    probe, the core ADC trick (the corpus contributes only code lookups).
    The per-subspace rounding mirrors :func:`pq_encode` exactly so the SQL
    oracle reproduces every table entry with ``ROUND(list_distance(), 4)``.
    """
    q = np.asarray(query, dtype=np.float64)
    d = len(codebooks[0][0])
    tables = []
    for s, book in enumerate(codebooks):
        B = np.array(book, dtype=np.float64)
        diff = q[s * d : (s + 1) * d][None, :] - B
        dist = np.sqrt((diff * diff).sum(axis=1))
        dist = np.floor(dist * 10_000 + 0.5) / 10_000
        tables.append([float(x) for x in dist])
    return tables


def ivf_query_cells(
    centroids: list[list[float]], query: list[float], nprobe: int = 1
) -> list[int]:
    """Driver-side multi-probe cell selection: the ``nprobe`` cells ranked
    by 4dp-rounded query·centroid dot (ties to lowest id) — the recall
    dial of IVF search, generalizing :func:`ivf_query_cell`."""
    import math

    scored = []
    for i, c in enumerate(centroids):
        dd = float(np.dot(query, c))
        dd = math.trunc(dd * 10_000 + (0.5 if dd >= 0 else -0.5)) / 10_000
        scored.append((-dd, i))
    scored.sort()
    return [i for _, i in scored[:nprobe]]


def ivf_pq_topk(
    index: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """FAISS-style IVFADC probe over the :func:`ivf_pq_index` table:
    restrict to the ``nprobe`` closest cells, score every member by the
    PQ-approximated distance (``sqrt(Σ_s dt[s][code_s]²)`` — m literal-
    array lookups per row, no raw vectors touched), and take the top-k.

    Returns ``(id, cell_id, approx_dist)`` ascending by distance.

    Scale shape: the cell filter prunes to nprobe/C of the corpus (and to
    nprobe buckets' *files* when the index is written bucketed by
    cell_id); scoring is map-only register math against the m×k broadcast
    ADC tables; the only movement is the TakeOrderedAndProject top-k.
    This is the 100 TB probe path — the exact :func:`cosine_topk` scan is
    the small-corpus / rerank baseline."""
    cells = ivf_query_cells(centroids, query, nprobe)
    dts = pq_adc_tables(codebooks, query)
    lookups = [
        F.element_at(
            F.array(*[F.lit(x) for x in dt]),
            F.col("codes").getItem(s) + 1,
        )
        for s, dt in enumerate(dts)
    ]
    approx = F.round(F.sqrt(sum((c * c for c in lookups), F.lit(0.0))), 4)
    return (
        index.filter(F.col("cell_id").isin([int(c) for c in cells]))
        .select(
            F.col(id_col),
            F.col("cell_id"),
            approx.alias("approx_dist"),
        )
        .orderBy(F.col("approx_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk_rerank(
    index: DataFrame,
    raw: DataFrame,
    query: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str = "vec_id",
    k: int = 10,
    shortlist: int = 50,
    nprobe: int = 2,
) -> DataFrame:
    """The full production ANN probe: IVFADC shortlist → exact re-rank —
    the standard two-stage FAISS recipe. Stage 1 scans only PQ codes in
    the probed cells and keeps the ``shortlist`` best by ADC distance;
    stage 2 fetches JUST those raw vectors (a broadcast semi-join — at
    scale, |shortlist| point lookups into the id-bucketed embedding
    table) and ranks them by exact cosine.

    Why the composition matters (measured, docs/SCALE.md): on the
    synthetic near-random corpus ADC alone saturates at ~0.2-0.3
    recall@10 — PQ distortion is larger than the gap between neighbors —
    while shortlist=50/nprobe=4 re-ranked reaches 0.7-0.8 at a raw-vector
    read cost of 50 rows instead of the corpus. Returns the
    :func:`cosine_topk` shape ``(id, cosine_sim)``."""
    sl = ivf_pq_topk(
        index, query, centroids, codebooks, id_col=id_col, k=shortlist,
        nprobe=nprobe,
    )
    members = raw.join(F.broadcast(sl.select(id_col)), on=id_col, how="semi")
    return cosine_topk(members, vec_col, id_col, query, k)


def ann_recall(
    exact_topk: DataFrame, approx_topk: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Recall@k scorecard for an ANN probe against the exact scan: one row
    ``(k_exact, k_approx, n_hits, recall)``.  "Measure, don't guess" for
    the IVF/LSH recall dials — both inputs are top-k tables (bounded), so
    the intersection is a broadcast semi-join + single-row aggregate;
    cost is independent of corpus size."""
    hits = exact_topk.select(F.col(id_col)).join(
        F.broadcast(approx_topk.select(F.col(id_col))), on=id_col, how="semi"
    )
    ek = exact_topk.agg(F.count(F.lit(1)).alias("k_exact"))
    hk = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    # lazy end to end: construction launches zero jobs (the counts join as
    # two 1-row aggregates instead of driver-side .count() actions)
    return ek.crossJoin(F.broadcast(hk)).select(
        "k_exact",
        "n_hits",
        F.round(F.col("n_hits") / F.col("k_exact"), 4).alias("recall"),
    )


def knn_graph(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbor graph: for every vector, its top-k
    most-similar neighbors among LSH band-bucket candidates —
    ``(src, dst, cosine_sim, rank)``. The substrate for diversity
    sampling, SemDeDup-style pruning audits, and graph-based curation.

    Scale shape: candidates come from the same sign-bit band buckets as
    :func:`~pgferry_spark.operators.dedup.embedding_near_dup_pairs_lsh`
    (linear in bucket collisions, never corpus-quadratic); each bucket's
    similarities compute as ONE BLAS matmul emitting directed edges; a
    distinct collapses multi-band duplicates and a per-source window
    takes the top-k. Recall is band-limited by construction (a true
    neighbor sharing no band is missed) — more/narrower bands is the
    recall dial. Construction launches zero driver jobs (planes derive
    from ``(dim, n_planes, seed)`` executor-side).

    ``max_bucket`` is the hot-bucket cap (the same semi-join guard as
    ``lsh_candidate_pairs``): a bucket of B members costs a B×B matmul
    plus B² index rows inside ONE ``applyInPandas`` group, so a single
    degenerate band value (near-zero vectors, boilerplate embeddings
    that all land on the same sign pattern) concentrates O(B²) memory on
    one executor and OOMs it at scale.  With the cap, buckets above
    ``max_bucket`` are excluded via a semi-join against per-bucket
    counts aggregated on the SAME (band_id, band_val) partitioning the
    groupBy uses — no extra wide shuffle.  Recall cost is bounded:
    members of a dropped bucket still get edges from every band where
    they land in a non-degenerate bucket, which for true near neighbors
    is the common case.  Default None keeps exact oracle semantics."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    width = n_planes // bands
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
    if max_bucket is not None:
        small = (
            exploded.groupBy("band_id", "band_val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
        exploded = exploded.join(small, ["band_id", "band_val"], "left_semi")

    def bucket_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"src": [], "dst": [], "cosine_sim": []})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        V = np.array(list(pdf["v"]), dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        S = V @ V.T
        S = np.trunc(S * 10_000 + np.where(S >= 0, 0.5, -0.5)) / 10_000  # half-away 4dp
        n = len(ids)
        src, dst = np.repeat(np.arange(n), n), np.tile(np.arange(n), n)
        keep = src != dst
        return pd.DataFrame(
            {
                "src": ids[src[keep]],
                "dst": ids[dst[keep]],
                "cosine_sim": S[src[keep], dst[keep]],
            }
        )

    edges = (
        exploded.groupBy("band_id", "band_val")
        .applyInPandas(bucket_edges, "src long, dst long, cosine_sim double")
        .dropDuplicates(["src", "dst"])
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cosine_sim").desc(), F.col("dst").asc()
    )
    return (
        edges.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def embedding_drift_psi(
    old_df: DataFrame,
    new_df: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int = 8,
    centroids: list[list[float]] | None = None,
    epsilon: float = 1e-6,
) -> DataFrame:
    """Population Stability Index over EMBEDDING SPACE: both snapshots
    assign to the baseline's IVF cells (map-only literal-centroid argmax,
    the :func:`ivf_assign` machinery) and PSI compares the cell-occupancy
    distributions — the embedding-space member of the drift suite
    (``psi_drift`` sees scalar columns; this sees "the new corpus lives
    in different regions of representation space", the signal that an
    encoder change, a scraper change, or topic drift produces before any
    scalar aggregate moves).

    Same conventions as ``psi_drift``: cells fixed from the BASELINE
    (old) side, ``epsilon``-floored proportions, one row
    ``(psi, n_old, n_new)``; <0.1 stable, >0.25 action.  Shape: one
    map-only scan + cell histogram per side (zero joins corpus-side),
    then everything downstream is ≤ ``n_cells`` rows."""
    if centroids is None:
        centroids = ivf_centroids(old_df, vec_col, id_col, n_cells)
    eps = float(epsilon)

    def cells(d: DataFrame):
        return (
            ivf_assign(d, vec_col, id_col, n_cells, centroids=centroids)
            .groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    ho = cells(old_df).withColumnRenamed("c", "c_old")
    hn = cells(new_df).withColumnRenamed("c", "c_new")
    merged = ho.join(hn, "cell_id", "full_outer").select(
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    totals = merged.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new")
    )
    p_new = F.greatest(F.col("c_new") / F.col("n_new"), F.lit(eps))
    p_old = F.greatest(F.col("c_old") / F.col("n_old"), F.lit(eps))
    terms = merged.crossJoin(F.broadcast(totals)).select(
        "n_old", "n_new",
        ((p_new - p_old) * F.log(p_new / p_old)).alias("__t"),
    )
    return (
        terms.groupBy("n_old", "n_new")
        .agg(F.round(F.sum("__t"), 6).alias("psi"))
        .select("psi", "n_old", "n_new")
    )
