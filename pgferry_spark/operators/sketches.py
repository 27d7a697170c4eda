"""Deterministic, mergeable data sketches: HyperLogLog, Count-Min, Bloom.

The classic streaming-sketch trio, re-expressed as Spark aggregates with
*deterministic* md5-derived hash functions — so every register / counter /
bit is an exact integer a SQL oracle can recompute, unlike Spark's
built-in `approx_count_distinct` (HLL++ with opaque seeds).

Why a 100 TB pipeline wants these as first-class operators rather than
exact DISTINCT/COUNT:

* **One pass, map-side partial, tiny shuffle.** Every sketch here is a
  single `groupBy(...).agg(max/sum)` whose key space is bounded by the
  sketch size (``m`` registers, ``depth*width`` cells, ``num_bits``
  bits), not by the data's cardinality. At 100 TB an exact
  ``COUNT(DISTINCT url)`` shuffles billions of keys; the HLL register
  table shuffles 256 rows per group.
* **Mergeable.** Registers/cells/bits combine with ``max``/``sum``/
  ``or`` — per-day or per-source sketches roll up without touching raw
  data again. :func:`hll_merge` is exactly that roll-up, and the
  mergeability law (sketch(A ∪ B) == merge(sketch(A), sketch(B))) is
  pinned by property tests.
* **Exactly re-checkable.** The estimate arithmetic sticks to sums of
  powers of two (exact in IEEE double) plus one literal-constant
  division, so Spark and DuckDB agree to far beyond the 4-dp oracle
  rounding.

Reference parity: the reference engine ships no sketches (its
``COUNT(*)`` validation is exact — `/root/reference/migrate.go`
row-count checks); this module is part of the beyond-reference
training-data-pipeline surface, next to dedup.py / similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "hll_registers",
    "hll_merge",
    "hll_estimate",
    "hll_intersect_estimate",
    "cms_sketch",
    "cms_lookup",
    "bloom_bits",
    "bloom_probe",
    "loghist_counts",
    "loghist_merge",
    "loghist_quantiles",
    "cms_join_size",
    "hll_rolling_distinct",
    "hll_rolling_from_registers",
    "loghist_rolling_quantiles",
]


# -- shared hash primitive ---------------------------------------------------


def _hash60(col: Column, salt: str | None = None) -> Column:
    """Deterministic 60-bit non-negative hash: first 15 hex digits of
    md5 (DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``).
    60 bits keeps the value comfortably inside a signed 64-bit long on
    both engines; a ``salt`` prefix derives independent hash functions
    (the Count-Min rows / Bloom probes)."""
    s = col.cast("string")
    if salt is not None:
        s = F.concat(F.lit(salt + ":"), s)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# -- HyperLogLog -------------------------------------------------------------


def hll_registers(
    df: DataFrame,
    col: str,
    group_cols: tuple[str, ...] = (),
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog register table (Flajolet et al. 2007).

    ``bucket`` = low ``p`` bits of the 60-bit hash; ``register`` = max
    over the group of rho(rest), where rho = 1 + count of leading zeros
    in the remaining ``60 - p`` bits (computed exactly via ``bin()``
    string length — identical on both engines). One aggregate with
    map-side combine; output is at most ``2**p`` rows per group no
    matter how large the input — registers ARE the shuffle payload.
    """
    m = 1 << p
    w = 60 - p
    h = _hash60(F.col(col))
    bucket = h.bitwiseAND(F.lit(m - 1)).cast("int")
    rest = F.shiftrightunsigned(h, p)
    bitlen = F.when(rest == F.lit(0), F.lit(0)).otherwise(F.length(F.bin(rest)))
    rho = (F.lit(w) - bitlen + F.lit(1)).cast("int")
    return (
        df.groupBy(*[F.col(g) for g in group_cols], bucket.alias("bucket"))
        .agg(F.max(rho).alias("register"))
    )


def hll_merge(regs: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge register tables: max per (group, bucket). Dropping columns
    from ``group_cols`` unions the corresponding sketches — the lattice
    roll-up that makes per-source/per-day sketches composable without
    rescanning data. Cost: one aggregate over <= groups * 2**p rows."""
    return (
        regs.groupBy(*[F.col(g) for g in group_cols], "bucket")
        .agg(F.max("register").alias("register"))
    )


def _alpha_m2(p: int) -> float:
    m = float(1 << p)
    if p == 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m


def hll_estimate(
    regs: DataFrame, p: int = 8, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Raw HLL estimate from a (merged) register table:
    ``alpha_m * m^2 / (sum(2^-register) + (m - present))`` — absent
    buckets contribute ``2^0 = 1`` each. The sum is over powers of two
    (exact in double), the constant is a Python literal inlined on both
    engines, so the rounded estimate is engine-identical. With
    ``group_cols`` the estimate is per group (approximate
    COUNT(DISTINCT) per key from a bounded table); without, one row
    ``(est_distinct double, n_present long)``."""
    m = 1 << p
    aggs = [
        F.round(
            F.lit(_alpha_m2(p))
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("register")))
                + (F.lit(m) - F.count(F.lit(1)))
            ),
            4,
        ).alias("est_distinct"),
        F.count(F.lit(1)).alias("n_present"),
    ]
    if group_cols:
        return regs.groupBy(*[F.col(g) for g in group_cols]).agg(*aggs)
    return regs.agg(*aggs)


def hll_intersect_estimate(
    regs_a: DataFrame, regs_b: DataFrame, p: int = 8
) -> DataFrame:
    """Set-intersection cardinality from two HLL register tables via
    inclusion-exclusion: |A ∩ B| ≈ est(A) + est(B) - est(A ∪ B), where
    the union sketch is the max-per-bucket merge — no raw data touched.
    This is the sketch answer to "how many users are in BOTH corpora"
    at 100 TB: three bounded-size register tables instead of a distinct
    shuffle over either side. Error grows with the Jaccard distance
    (inclusion-exclusion subtracts two noisy terms), so the query layer
    pairs it with an exact scorecard at test scale.

    Returns one row ``(est_a, est_b, est_union, est_intersect)``; all
    four stick to the same exact power-of-two arithmetic as
    :func:`hll_estimate`, so a SQL oracle reproduces them bit-for-bit
    at 4 dp."""
    ea = hll_estimate(regs_a, p=p).select(F.col("est_distinct").alias("est_a"))
    eb = hll_estimate(regs_b, p=p).select(F.col("est_distinct").alias("est_b"))
    eu = hll_estimate(hll_merge(regs_a.union(regs_b)), p=p).select(
        F.col("est_distinct").alias("est_union")
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            "est_a",
            "est_b",
            "est_union",
            # clamp at 0: with low overlap the three ~6.5%-sigma terms can
            # make inclusion-exclusion go negative; a cardinality cannot
            F.greatest(
                F.lit(0.0),
                F.round(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
                ),
            ).alias("est_intersect"),
        )
    )


# -- Count-Min ---------------------------------------------------------------


def cms_sketch(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
    group_cols: tuple[str, ...] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005): ``depth``
    independent hash rows of ``width`` counters; cell (j, h_j(x)) counts
    every occurrence of x — or, with ``weight_col``, sums that integer
    measure per key (revenue in cents, token counts): every CMS law
    (never-underestimate, cell-wise-sum merge) holds for any
    non-negative additive weight, turning the sketch into a bounded
    "top spenders / top token-mass sources" estimator. Built as
    explode-to-depth + one aggregate: the shuffle key space is
    depth*width cells, constant in data size. Merging two sketches is
    cell-wise ``sum`` (same groupBy shape).
    Returns ``(*group_cols, row int, col int, cnt long)``."""
    rows = F.array(*[
        F.struct(
            F.lit(j).alias("row"),
            (_hash60(F.col(col), salt=f"cms{j}") % width).cast("int").alias("col"),
        )
        for j in range(depth)
    ])
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    return (
        df.select(*group_cols, w.alias("__w"), F.explode(rows).alias("cell"))
        .groupBy(*[F.col(g) for g in group_cols], "cell.row", "cell.col")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-estimate frequencies for a (small) key set from a CMS:
    est(x) = min_j sketch[j][h_j(x)] — never an underestimate, over by
    at most collisions' mass. The keys side is the small side: explode
    each key into its ``depth`` cells, equi-join the sketch (broadcast
    when the sketch is one group — depth*width rows), min per key.
    Returns ``(key, est_cnt long)``."""
    cells = keys.select(
        F.col(col).alias("key"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("row"),
                    (_hash60(F.col(col), salt=f"cms{j}") % width)
                    .cast("int")
                    .alias("col"),
                )
                for j in range(depth)
            ])
        ).alias("cell"),
    ).select("key", "cell.row", "cell.col")
    return (
        cells.join(F.broadcast(sketch), on=["row", "col"], how="left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


# -- Bloom filter ------------------------------------------------------------


def bloom_bits(
    df: DataFrame,
    col: str,
    num_bits: int = 4096,
    num_hashes: int = 5,
) -> DataFrame:
    """Bloom filter as a distinct set-bit table: k salted hashes per key,
    each mod ``num_bits``. At most ``num_bits`` output rows regardless of
    input size — the same one-bounded-aggregate shape as the other
    sketches (distinct == groupBy). Union of two filters = union of bit
    tables. Returns ``(bit int)``."""
    bits = F.array(*[
        (_hash60(F.col(col), salt=f"bf{j}") % num_bits).cast("int")
        for j in range(num_hashes)
    ])
    return df.select(F.explode(bits).alias("bit")).distinct()


def bloom_probe(
    bits: DataFrame,
    probe: DataFrame,
    col: str,
    num_bits: int = 4096,
    num_hashes: int = 5,
) -> DataFrame:
    """Membership test: key maybe-present iff ALL k bits are set. The
    bit table is tiny (<= num_bits rows) so it broadcasts; the probe
    side explodes to k rows, left-joins the bits, and ands the flags
    with a min aggregate. No false negatives by construction; false
    positives at the standard (1 - e^{-kn/m})^k rate. This is the
    shuffle-avoiding pre-filter for selective joins: ship the bit table,
    drop non-members before the real join.
    Returns ``(key, maybe_present boolean)``."""
    cells = probe.select(
        F.col(col).alias("key"),
        F.explode(
            F.array(*[
                (_hash60(F.col(col), salt=f"bf{j}") % num_bits).cast("int")
                for j in range(num_hashes)
            ])
        ).alias("bit"),
    )
    hit = F.broadcast(bits.withColumn("__set", F.lit(1)))
    return (
        cells.join(hit, on="bit", how="left")
        .groupBy("key")
        .agg((F.min(F.coalesce(F.col("__set"), F.lit(0))) == 1).alias("maybe_present"))
    )


# -- Log-histogram quantile sketch -------------------------------------------
#
# The mergeable-quantiles member of the sketch family (DDSketch /
# HdrHistogram lineage: Masson et al., VLDB 2019 — "DDSketch: a fast and
# fully-mergeable quantile sketch with relative-error guarantees").
# Instead of gamma^i log buckets (whose log() is libm-dependent and so
# not oracle-exact), buckets are (octave, sub-bucket): octave = bit
# length of the integer-scaled value, sub = which of ``k`` equal slices
# of that octave. Relative bucket width is <= 1/k, everything is exact
# integer/string arithmetic, and the table is at most 63*k rows per
# group no matter the input size.


def _scaled_long(col: Column, decimals: int) -> Column:
    """Integer-scale a money-like double exactly: cast through
    DECIMAL(18, decimals) (half-up, matching DuckDB), then shift the
    point. All downstream bucket math is exact integer ops."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{decimals})") * (10 ** decimals)


def loghist_counts(
    df: DataFrame,
    col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 16,
    decimals: int = 2,
) -> DataFrame:
    """Per-group log-histogram over a positive numeric column.

    ``w`` = value scaled to an exact integer (``decimals`` fractional
    digits, half-up — the same DECIMAL normalization the percentile
    oracles use); ``e`` = floor(log2(w)) computed exactly as
    ``length(bin(w)) - 1``; ``sub`` = which of ``k`` equal slices of
    octave ``[2^e, 2^{e+1})`` holds ``w``, via the exact integer
    identity ``(w*k) div 2^e - k``. Non-positive values are dropped
    (count them separately if they matter).

    One aggregate with map-side combine; output is <= 63*k rows per
    group — like the HLL register table, the histogram IS the shuffle
    payload, so per-day / per-source histograms of a 100 TB column
    cost one pass and merge without rescanning (:func:`loghist_merge`).
    Returns ``(*group_cols, e int, sub int, cnt long)``."""
    w = _scaled_long(F.col(col), decimals).cast("long")
    df = df.select(*group_cols, w.alias("__w")).filter(F.col("__w") >= 1)
    e = (F.length(F.bin(F.col("__w"))) - 1).cast("int")
    # 2^e is exact in double for e <= 52 (and exact in every libm's pow)
    p2 = F.pow(F.lit(2.0), e).cast("long")
    # w*k is computed in DECIMAL(38,0): for values near the DECIMAL(18)
    # scale cap a long multiply would silently wrap under non-ANSI
    # arithmetic and emit garbage buckets (DuckDB's BIGINT `//` twin
    # raises loudly on the same overflow instead). The quotient is in
    # [k, 2k), so the decimal division is exact and tiny.
    wk = F.col("__w").cast("decimal(38,0)") * F.lit(k)
    p2d = p2.cast("decimal(38,0)")
    sub = ((wk - (wk % p2d)) / p2d).cast("long") - k
    return (
        df.withColumn("e", e)
        .withColumn("sub", sub.cast("int"))
        .groupBy(*[F.col(g) for g in group_cols], "e", "sub")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def loghist_merge(hist: DataFrame, group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Merge histograms: sum per (group, e, sub). Dropping columns from
    ``group_cols`` rolls sketches up the grouping lattice — the same
    rescan-free composition law as :func:`hll_merge`."""
    return (
        hist.groupBy(*[F.col(g) for g in group_cols], "e", "sub")
        .agg(F.sum("cnt").alias("cnt"))
    )


def loghist_quantiles(
    hist: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    group_cols: tuple[str, ...] = (),
    k: int = 16,
    decimals: int = 2,
) -> DataFrame:
    """Quantile estimates from a log-histogram: for each q, the lower
    bound of the first bucket whose cumulative count reaches ``q *
    total`` (type-1 / ceil-rank semantics). The estimate is below the
    true quantile by at most one bucket width, i.e. relative error
    <= 1/k.

    Cost: one bounded window (<= 63*k rows per group — the histogram,
    never the data) plus a tiny aggregate; the raw column is not
    touched, which is the point — quantiles of a 100 TB column from a
    few-KB sketch. Returns ``(*group_cols, q double, est double)``."""
    from pyspark.sql import Window

    wspec = (
        Window.partitionBy(*[F.col(g) for g in group_cols])
        .orderBy("e", "sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tspec = Window.partitionBy(*[F.col(g) for g in group_cols])
    cum = hist.select(
        *group_cols,
        "e",
        "sub",
        F.sum("cnt").over(wspec).alias("cum"),
        F.sum("cnt").over(tspec).alias("total"),
    )
    qcol = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    cand = cum.select(*group_cols, "e", "sub", "cum", "total", qcol).filter(
        F.col("cum") >= F.col("q") * F.col("total")
    )
    first = cand.groupBy(*[F.col(g) for g in group_cols], "q").agg(
        F.min(F.struct("e", "sub")).alias("b")
    )
    p2 = F.pow(F.lit(2.0), F.col("b.e"))
    est = F.round(p2 * (k + F.col("b.sub")) / k / (10 ** decimals), 4)
    return first.select(*group_cols, "q", est.alias("est"))


def cms_join_size(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Equi-join output-cardinality estimate from two Count-Min sketches
    over the join keys (the AMS/CMS inner-product estimator — Alon,
    Matias & Szegedy 1996; Cormode & Muthukrishnan 2005 §4.2):
    ``|A ⋈_k B| = Σ_k fA(k)·fB(k)``, estimated as the MIN over hash rows
    of the cell-wise dot product. Collisions only ADD mass, so the
    estimate never underestimates, and a width ≫ distinct-keys sketch is
    exact (both pytest-pinned).

    This is the join-size oracle a planner wants before committing to a
    shuffle at 100 TB: the true answer needs the join itself; this needs
    two depth*width cell tables that each cost one pass and merge across
    partitions/days by cell-wise sum. Cost here: an equi-join of two
    <= depth*width-row tables, a depth-row aggregate, a 1-row min.
    Returns one row ``(est_join_size long)`` — 0 (not NULL) when the two
    key sets are fully disjoint; NULL only when both sketches are empty.
    """
    # FULL OUTER join with absent cells coalesced to 0 (r15, guide
    # §2.4): a cell present on one side only contributes 0 to the dot
    # product, and a hash row whose cells are fully disjoint between
    # the two sketches keeps its (dot = 0) row — the exact semantics
    # the previous inner-join + row-spine union had, without the spine:
    # that union consumed BOTH sketch subtrees a second time (each
    # sketch is an unpersisted aggregate, so its whole scan + explode +
    # groupBy pipeline executed twice per materialization; verified in
    # the r15 before-plan: 4 parquet scans for 2 sketches).  Both
    # sides' groupBy(row, col) output partitioning is reused by the
    # equi-join on the same keys, so the join adds no Exchange.
    j = (
        sketch_a.withColumnRenamed("cnt", "__ca")
        .join(
            sketch_b.withColumnRenamed("cnt", "__cb"),
            ["row", "col"],
            "full_outer",
        )
        .select(
            "row",
            (
                F.coalesce(F.col("__ca"), F.lit(0))
                * F.coalesce(F.col("__cb"), F.lit(0))
            ).alias("__p"),
        )
    )
    per_row = j.groupBy("row").agg(F.sum("__p").alias("dot"))
    return per_row.agg(F.min("dot").cast("long").alias("est_join_size"))


def hll_rolling_distinct(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_days: int = 7,
    p: int = 8,
) -> DataFrame:
    """Trailing-window distinct counts (rolling DAU/WAU) from per-day
    HLL register tables — the mergeability payoff applied to time:
    ``est_distinct`` at day D covers keys seen in days ``[D - window_days
    + 1, D]``, computed WITHOUT re-scanning any day's events twice.

    Shape: one aggregate builds per-(day, bucket) registers (<= 256 rows
    per day regardless of traffic); each register row then contributes
    to the ``window_days`` trailing windows it belongs to via a map-only
    sequence-explode (no range join — the explode multiplies
    REGISTER-TABLE rows, not events); a second bounded aggregate takes
    the max per (window-end day, bucket) and the grouped estimate reads
    off each day's merged registers. At 100 TB of events the event scan
    happens once per day ever (the day's registers persist as ~2 KB),
    and every trailing-window re-estimate is sketch arithmetic —
    contrast an exact rolling COUNT(DISTINCT), which re-shuffles
    ``window_days`` days of raw keys for every day of output. Days past
    the last data day carry partial windows and are emitted (they ARE
    that day's trailing estimate); callers wanting only observed days
    filter on day.

    Returns ``(day date, est_distinct double, n_present long)`` with the
    same exact power-of-two arithmetic as :func:`hll_estimate`, so a SQL
    oracle reproduces every row."""
    day = F.to_date(F.col(ts_col))
    regs = hll_registers(
        df.select(day.alias("day"), F.col(key_col)), key_col, group_cols=("day",), p=p
    )
    return hll_rolling_from_registers(regs, window_days=window_days, p=p)


def hll_rolling_from_registers(
    regs: DataFrame, window_days: int = 7, p: int = 8
) -> DataFrame:
    """Trailing-window estimates from an existing per-day register table
    ``(day, bucket, register)`` — the query half shared by
    :func:`hll_rolling_distinct` (which builds the registers inline) and
    any caller that keeps them between runs: each register
    row contributes map-only to the ``window_days`` windows it belongs
    to, then bounded max-merge + grouped estimate."""
    contrib = regs.select(
        F.explode(F.sequence(F.lit(0), F.lit(int(window_days) - 1))).alias("i"),
        "day",
        "bucket",
        "register",
    ).select(
        F.date_add(F.col("day"), F.col("i")).alias("day"), "bucket", "register"
    )
    merged = contrib.groupBy("day", "bucket").agg(
        F.max("register").alias("register")
    )
    return hll_estimate(merged, p=p, group_cols=("day",))


def loghist_rolling_quantiles(
    df: DataFrame,
    ts_col: str,
    col: str,
    window_days: int = 7,
    qs: tuple[float, ...] = (0.5, 0.99),
    k: int = 16,
    decimals: int = 2,
) -> DataFrame:
    """Trailing-window quantiles (rolling p50/p99) from per-day
    log-histograms — the loghist analogue of
    :func:`hll_rolling_distinct`, and the shape a latency/size SLO
    monitor wants at 100 TB: each day's values are histogrammed ONCE
    (<= 63*k cells/day), each cell contributes map-only to the
    ``window_days`` trailing windows it belongs to, a bounded sum-merge
    rebuilds every window's histogram, and the quantiles read off the
    merged cells. An exact rolling percentile re-sorts window_days of
    raw values per output day; this never touches a value twice.

    Returns ``(day date, q double, est double)``; same exact bucket
    arithmetic as :func:`loghist_quantiles`, fully oracle-expressible."""
    day = F.to_date(F.col(ts_col))
    hist = loghist_counts(
        df.select(day.alias("day"), F.col(col)),
        col,
        group_cols=("day",),
        k=k,
        decimals=decimals,
    )
    contrib = hist.select(
        F.explode(F.sequence(F.lit(0), F.lit(int(window_days) - 1))).alias("i"),
        "day",
        "e",
        "sub",
        "cnt",
    ).select(
        F.date_add(F.col("day"), F.col("i")).alias("day"), "e", "sub", "cnt"
    )
    merged = loghist_merge(contrib, group_cols=("day",))
    return loghist_quantiles(
        merged, qs, group_cols=("day",), k=k, decimals=decimals
    )
