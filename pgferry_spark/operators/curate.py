"""Dataset-curation operators for training-data pipelines.

The steps between "filtered corpus" and "training shards": deterministic
split assignment, per-group quota sampling, and token-budget sequence
packing. All pure Column/window expressions — no UDFs, one shuffle each —
and every one is reproducible bit-for-bit from the data alone (no RNG
state), which is what makes a 100 TB dataset build auditable: re-running
any subset yields the same assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def split_bucket(id_col, buckets: int = 100):
    """Deterministic [0, buckets) bucket from the md5 of the row id.

    md5 (not xxhash64) so the assignment is portable across engines — the
    same row lands in the same bucket in Spark, DuckDB, or any ANSI-SQL
    system, letting a downstream team reproduce the split without Spark.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(buckets),
    )


def dataset_split(
    df: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Assign every row a stable train/val/test split by hashed id.

    Map-only (no shuffle, no sampling state): the split is a pure function
    of the id, so late-arriving data joins the same splits and incremental
    rebuilds never move a row between train and test (the leakage hazard of
    random sampling)."""
    b = split_bucket(F.col(id_col))
    return df.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    order_col: str,
    id_col: str,
    n_per_group: int,
) -> DataFrame:
    """Top-``n_per_group`` rows per group by ``order_col`` (descending,
    id-tiebroken) — per-language / per-source quota balancing.

    One shuffle on the group key; the rank prunes inside each partition
    before anything else moves. With a heavily skewed group this is the
    classic window hot-key — at 100 TB pre-aggregate with a per-partition
    partial top-N (groupBy + slice(sort_array(collect_list))) if one group
    dominates."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col=None,
) -> DataFrame:
    """Assign documents to fixed token-budget bins, in id order: bin k holds
    the docs whose running token total lands in [k·budget, (k+1)·budget).

    This is the streaming-order packing a sharded writer applies (cumulative
    fill, cut when the budget trips) expressed as ONE window cumulative sum —
    no iteration, no UDF. Documents longer than the budget get a bin of
    their own (the cumsum jumps a whole multiple).

    ``shard_col`` partitions the packing: each shard packs independently,
    which is exactly how a distributed writer works and keeps the window
    from needing a single global sort partition at 100 TB. Default (None)
    is global order — fine up to the scale where one sorted partition
    stops being fine."""
    part = [shard_col] if shard_col is not None else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(token_col).over(w), F.lit(0).cast("long"))
    return df.withColumn("bin_id", F.floor(before / F.lit(budget)).cast("long"))


def select_to_token_budget(
    df: DataFrame,
    quality_col: str,
    tokens_col: str,
    id_col: str,
    budget: int,
) -> DataFrame:
    """Highest-quality documents until a corpus token budget is reached:
    exactly the docs a global ``ORDER BY quality DESC, id ASC`` running
    token sum would keep under ``budget``.

    The naive form is a single cumulative-sum window over the global
    order — an unpartitioned window, i.e. ONE task sorting the corpus: a
    scale-killer. This implementation gets the identical answer in two
    scalable passes:

    1. aggregate token sums per distinct quality value (one shuffle;
       quality is already edge-rounded, so the histogram has bounded
       cardinality) and collect that small histogram driver-side to find
       the threshold quality — every better quality level fits wholly
       within budget;
    2. keep all docs strictly above the threshold with a broadcast-able
       filter, and run the cumulative window ONLY inside the single
       threshold quality level (partitioned by that one value — bounded
       work), admitting docs in id order until the remainder is spent.

    The driver-side collect is a histogram of distinct quality values,
    not data — the same bounded-metadata pattern as the chunk planner.
    Deterministic and engine-portable: ties break on id, no RNG.
    """
    q = F.col(quality_col)
    hist = (
        df.groupBy(q.alias("__q"))
        .agg(F.sum(F.col(tokens_col)).alias("__toks"))
        .orderBy(F.col("__q").desc())
        .collect()
    )
    spent = 0
    threshold = None  # first quality level that does NOT fully fit
    for row in hist:
        if spent + row["__toks"] > budget:
            threshold = row["__q"]
            break
        spent += row["__toks"]
    if threshold is None:
        return df.select(id_col, quality_col, tokens_col)  # everything fits

    above = df.filter(q > F.lit(threshold))
    w = (
        Window.partitionBy(q)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    at = (
        df.filter(q == F.lit(threshold))
        .withColumn("__cum", F.sum(F.col(tokens_col)).over(w))
        .filter(F.col("__cum") <= F.lit(int(budget - spent)))
        .drop("__cum")
    )
    return above.select(id_col, quality_col, tokens_col).unionByName(
        at.select(id_col, quality_col, tokens_col)
    )


def stratified_split(
    df: DataFrame,
    group_col: str,
    id_col: str,
    train: float = 0.8,
    val: float = 0.1,
) -> DataFrame:
    """EXACT stratified train/val/test assignment: within every group the
    split sizes are ceil(n*train) / ceil(n*(train+val)) - ceil(n*train) /
    rest — the per-group proportions hold by construction, not just in
    hash expectation (``dataset_split`` is the hash-threshold variant:
    cheaper, proportional only in expectation).

    Deterministic and engine-portable: rows order by md5(id) within the
    group (id tiebreak), so re-running any subset reproduces the same
    assignment. One shuffle (the per-group window); the count rides the
    same window, no extra aggregate-join pass."""
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    grp = Window.partitionBy(group_col)
    rk = F.row_number().over(w)
    cnt = F.count(F.lit(1)).over(grp)
    split = (
        F.when(rk <= F.ceil(cnt * F.lit(train)), F.lit("train"))
        .when(rk <= F.ceil(cnt * F.lit(train + val)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(F.col(id_col), F.col(group_col)).withColumn("split", split)


def mixture_epochs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    epochs: dict[str, float],
) -> DataFrame:
    """Fractional-epoch source repetition — the up/down-sampling knob of
    the LLaMA-style data mixture ("wiki 2.4 epochs, web 0.7"): every doc
    in group ``g`` is emitted ``floor(epochs[g])`` times, plus one more
    copy iff its md5 fraction falls under ``frac(epochs[g])``, as
    ``(…, copy_idx)`` rows.  Expected copies per group = exactly
    ``epochs[g]``; which docs carry the extra copy is a pure md5 function
    of the id (rerun-stable, engine-portable, and the SAME docs gain the
    extra epoch when a source's knob moves — no resample churn).

    Scale shape: the epoch map ships as a literal expression (no join,
    skew-irrelevant) and the repeat is one ``sequence``-explode — output
    rows ∝ Σ epochs[g]·|g|, map-only, zero shuffles.  Groups not in
    ``epochs`` contribute nothing (epoch 0).  The downstream shard
    writer sees copy_idx so repeated epochs land in different shards."""
    pairs = []
    for g, e in sorted(epochs.items()):
        if e < 0:
            raise ValueError(f"negative epochs for {g!r}")
        pairs.extend([F.lit(g), F.lit(float(e))])
    ep = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(group_col)),
        F.lit(0.0),
    )
    whole = F.floor(ep).cast("int")
    frac = ep - whole
    # md5 fraction in [0, 1): first 14 hex digits, mod 1e6, over 1e6 —
    # the same portable-uniform trick as split_bucket
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10)
    extra = (
        (F.pmod(h.cast("long"), F.lit(1_000_000)) / 1_000_000.0) < frac
    ).cast("int")
    n_copies = whole + extra
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), n_copies - 1)
    ).otherwise(F.array().cast("array<int>"))
    return (
        df.withColumn("__copies", copies)
        .select("*", F.explode_outer("__copies").alias("copy_idx"))
        .filter(F.col("copy_idx").isNotNull())
        .drop("__copies")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weights: dict[str, float],
    total: int,
) -> DataFrame:
    """Deterministic data-mixture sampling: draw ``round(weights[g] * total)``
    rows from each source group, in md5-of-id order.

    This is the "mix 30% web, 20% code, ..." step of a training-data build.
    Sampling by hash order instead of RNG makes the mixture a pure function
    of the data: re-running yields the same corpus, adding a new source
    never changes the rows drawn from existing ones, and any engine with
    md5 can reproduce the draw (same portability argument as
    :func:`split_bucket`).

    One shuffle (the per-group window). Groups not in ``weights``
    contribute nothing. The quota map ships as a literal expression —
    there is no join, so the group column's skew is irrelevant; each
    group's window partition only has to hold that group's rows, the same
    bound any per-group top-N has.
    """
    pairs = []
    for g, w in sorted(weights.items()):
        pairs.extend([F.lit(g), F.lit(int(round(w * total)))])
    quota = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(group_col)), F.lit(0)
    )
    h = F.md5(F.col(id_col).cast("string"))
    rk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    )
    return (
        df.withColumn("__rk", rk)
        .filter(F.col("__rk") <= quota)
        .withColumn("sample_rank", F.col("__rk").cast("int"))
        .drop("__rk")
    )


def assign_shards(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Stable shard id in [0, n_shards) from the md5 of the row id — the
    write-side twin of :func:`split_bucket` (same engine-portable hash, so
    a reader can locate a document's shard without a manifest lookup)."""
    return df.withColumn("shard", split_bucket(F.col(id_col), n_shards).cast("int"))


def shard_manifest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_shards: int = 8,
) -> DataFrame:
    """Per-shard audit manifest for a training-shard write: document count,
    token total, and byte total per md5-assigned shard.

    One aggregation shuffle on the shard id (map-side combine makes the
    shuffled volume n_shards rows per task). This is the verification
    artifact a 100 TB shard write ships with — the shard writer
    produces files; this produces the row/token accounting a trainer
    checks before consuming them."""
    from ..functions.text import token_count

    return (
        assign_shards(df, id_col, n_shards)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(token_count(F.col(text_col)).cast("bigint")).alias("tokens"),
            F.sum(F.length(F.col(text_col)).cast("bigint")).alias("bytes"),
        )
    )


def compaction_plan(
    manifest: DataFrame,
    size_col: str,
    order_col: str,
    target_bytes: int,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Small-file compaction plan: assign each file/shard of a manifest
    to an output bin of roughly ``target_bytes``, preserving the
    manifest's sort order within each group.

    The assignment is ordered next-fit on the running byte total:
    ``bin = floor(bytes_before / target)`` where ``bytes_before`` is the
    cumulative size of all earlier files in the group. Order-preserving
    packing is deliberate — on a clustered/z-ordered table (see
    ``zorder_keys``) it keeps each output file covering a contiguous key
    range, which is what Delta/Iceberg ``OPTIMIZE`` does; size-sorted
    first-fit-decreasing would pack ~1 item tighter per bin while
    destroying the clustering that makes data skipping work. Each bin
    holds < ``target_bytes`` + one file; an oversize file spans whole
    bins on its own (followers restart past it), though it may share
    its first bin with small files packed before it — only the
    target-plus-one-file bound is guaranteed.

    Cost model: the manifest is file-level METADATA, never data — at
    100 TB with 128 MB files it is ~800k rows, and the only operation is
    one cumulative-sum window per group (partition-parallel across
    tables/sources/dates). The expensive part of compaction — actually
    rewriting the bytes — is then an embarrassingly parallel per-bin
    job this plan feeds.

    Returns the manifest columns plus ``bin int``. Reference parity:
    the reference engine has no lake layer; this belongs to the
    beyond-reference surface next to shard_manifest / zorder_keys."""
    w = (
        Window.partitionBy(*[F.col(g) for g in group_cols])
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(F.col(size_col).cast("long")).over(w), F.lit(0))
    return manifest.withColumn(
        "bin", F.floor(before / F.lit(int(target_bytes))).cast("int")
    )


def temperature_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    total: int = 200,
) -> DataFrame:
    """Temperature-based rebalanced sampling (the multilingual-training
    quota rule: draw probability ∝ group_count^alpha): each group's quota
    is ``floor(total * cnt^alpha / Σ cnt^alpha)``, drawn in md5-of-id
    order. ``alpha=1`` reproduces the natural distribution, ``alpha=0``
    is uniform across groups, and the usual 0.3–0.7 range up-samples
    low-resource groups without flattening entirely.

    Unlike :func:`mixture_sample` (caller-fixed weights), the quotas here
    derive from the DATA — computed distributedly: one tiny group-count
    aggregate, a broadcast of the (groups × 1) quota table back onto the
    corpus, and the same per-group md5 window any top-N pays. No driver
    collect; floor keeps the draw ≤ total (the deterministic choice —
    largest-remainder seat-filling would need a second tiny pass)."""
    cnt = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    w = F.pow(F.col("__cnt").cast("double"), F.lit(float(alpha)))
    weighted = cnt.select(F.col(group_col), w.alias("__w"))
    denom = weighted.agg(F.sum("__w").alias("__wsum"))
    quotas = (
        weighted.crossJoin(F.broadcast(denom))
        .select(
            group_col,
            F.floor(F.lit(float(total)) * F.col("__w") / F.col("__wsum"))
            .cast("int")
            .alias("__quota"),
        )
    )
    h = F.md5(F.col(id_col).cast("string"))
    rk = F.row_number().over(
        Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    )
    return (
        df.withColumn("__rk", rk)
        .join(F.broadcast(quotas), group_col)
        .filter(F.col("__rk") <= F.col("__quota"))
        .withColumn("sample_rank", F.col("__rk").cast("int"))
        .drop("__rk", "__quota")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int = 100,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-Res, RNG replaced by a hashed uniform): each row draws
    ``u ∈ (0,1)`` from the md5 of its id and scores ``u^(1/w)``; the
    top-``n`` scores are the sample. Inclusion probability is
    weight-proportional, yet the draw is a pure function of the data —
    the same reproducibility contract as every sampler here, now with
    weights (sample quality-weighted docs, size-weighted shards, ...).

    Map-only scoring + a TakeOrdered top-n: no shuffle of the corpus, no
    global sort — the same plan shape as any top-k. Non-positive weights
    are excluded (their inclusion probability is zero)."""
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(1 << 52))
    )
    w = F.col(weight_col).cast("double")
    key = F.pow(u, F.lit(1.0) / w)
    return (
        df.filter(w > 0)
        .withColumn("sample_key", F.round(key, 10))
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(n)
    )


def pii_card_gate(
    docs: DataFrame,
    text_col: str = "text",
    mode: str = "redact",
) -> DataFrame:
    """Checksum-validated card gate: card-shaped digit runs are extracted,
    separator-stripped, length-gated, and Luhn-validated
    (functions.text.card_candidates / luhn_valid — the same expressions
    the ``pii_luhn_cards`` entry uses). A document carrying at least one
    Luhn-VALID number is the highest-severity PII case — the regex-only
    ``pii_scrub`` of :func:`curate_corpus` can't tell it from a
    phone-shaped run, so this gate runs BEFORE it:

    - ``mode="redact"``: mask every card-shaped run in the offending
      document with ``<CARD>`` (conservative: once one validated number
      is present, all card-shaped runs in that doc are suspect) and keep
      the row, carrying ``n_valid_cards`` for audit;
    - ``mode="drop"``: quarantine the row entirely (keep only
      ``n_valid_cards == 0`` docs).

    Map-only Column expressions — no state, no shuffle; at 100 TB it rides
    the ingest scan inside whole-stage codegen."""
    from ..functions.text import PII_CARD_RUN, card_candidates, luhn_valid

    cands = card_candidates(F.col(text_col))
    n_valid = F.size(F.filter(cands, luhn_valid)).cast("int")
    flagged = docs.withColumn("n_valid_cards", n_valid)
    if mode == "drop":
        return flagged.filter(F.col("n_valid_cards") == 0)
    if mode != "redact":
        raise ValueError(f"unknown mode: {mode!r} (use 'redact' or 'drop')")
    return flagged.withColumn(
        text_col,
        F.when(
            F.col("n_valid_cards") > 0,
            F.regexp_replace(F.col(text_col), PII_CARD_RUN, "<CARD>"),
        ).otherwise(F.col(text_col)),
    )


def curate_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_quality: float = 0.3,
    train_pct: int = 80,
    val_pct: int = 10,
    n_shards: int = 8,
    keeper: str = "min_id",
) -> DataFrame:
    """The full curation DAG as one composition, from raw documents to
    training-ready assignments:

    1. PII scrub (map-only; the scrubbed text is what everything
       downstream, including the dedup fingerprint, sees);
    2. quality filter on the scrubbed text (map-only);
    3. fingerprint dedup — ``keeper="min_id"`` keeps the lowest id,
       ``keeper="best"`` keeps the group's highest-quality row (ties to
       min id; numeric ids required) — one shuffle either way;
    4. deterministic train/val/test split (map-only md5 bucket);
    5. shard assignment (map-only md5 bucket).

    Returns the curated corpus: original id, scrubbed text, quality,
    split, shard. Total distributed cost: ONE wide shuffle (the dedup
    window) — every other stage is a Column expression, which is exactly
    why the pipeline composes at 100 TB: Catalyst fuses 1/2/4/5 into the
    scan and post-dedup projections."""
    from ..functions.text import fingerprint, pii_scrub, quality_score
    from .dedup import dedup_by_fingerprint

    if keeper not in ("min_id", "best"):
        raise ValueError(f"unknown keeper: {keeper!r} (use 'min_id' or 'best')")
    scrubbed = df.withColumn(text_col, pii_scrub(F.col(text_col)))
    scored = scrubbed.withColumn(
        "quality", F.round(quality_score(F.col(text_col)), 4)
    ).filter(F.col("quality") >= min_quality)
    deduped = dedup_by_fingerprint(
        scored, text_col, id_col,
        score_col="quality" if keeper == "best" else None,
    )
    split = dataset_split(deduped, id_col, train_pct, val_pct)
    return assign_shards(split, id_col, n_shards)


def percentile_calibrate(
    df: DataFrame,
    id_col: str,
    score_cols: list[str],
    n_bins: int = 1000,
) -> DataFrame:
    """Percentile-normalize heterogeneous per-row signals onto a shared
    [0, 1] scale and blend them into a composite — the calibration step
    before combining quality signals whose raw scales are incomparable
    (chars vs log-probs vs classifier outputs).

    The textbook ``percent_rank`` is a GLOBAL-order window — one sorted
    partition, dead at corpus scale.  Here each signal gets an equi-width
    histogram (``n_bins`` bounded rows) whose cumulative counts broadcast
    back, and every row maps to ``cum_count(bins <= own bin) / N`` — a
    step-function CDF estimate with resolution 1/n_bins.  Signals melt
    into long form first, so ONE histogram pipeline serves all of them;
    the only corpus-sized shuffle is the final per-id regroup.  Constant
    signals (max == min) calibrate to bin 0 → pct 1.0 by convention.

    Returns ``(id, pct_<col>..., composite)`` with composite = round6 of
    the mean percentile."""
    n_bins = int(n_bins)
    pairs = []
    for c in score_cols:
        pairs += [F.lit(c), F.col(c).cast("double")]
    long = df.select(
        F.col(id_col), F.explode(F.create_map(*pairs)).alias("__sig", "__val")
    ).filter(F.col("__val").isNotNull())
    stats = long.groupBy("__sig").agg(
        F.min("__val").alias("__mn"),
        F.max("__val").alias("__mx"),
        F.count(F.lit(1)).alias("__n"),
    )
    w = (F.col("__mx") - F.col("__mn")) / F.lit(float(n_bins))
    binned = long.join(F.broadcast(stats), "__sig").withColumn(
        "__bin",
        F.when(F.col("__mx") == F.col("__mn"), F.lit(0)).otherwise(
            F.least(
                F.floor((F.col("__val") - F.col("__mn")) / w).cast("int"),
                F.lit(n_bins - 1),
            )
        ),
    )
    hist = binned.groupBy("__sig", "__bin").agg(F.count(F.lit(1)).alias("__c"))
    wcum = (
        Window.partitionBy("__sig")
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(wcum)).select(
        "__sig", "__bin", "__cum"
    )
    scored = binned.join(F.broadcast(cum), ["__sig", "__bin"]).withColumn(
        "__pct", F.round(F.col("__cum") / F.col("__n"), 6)
    )
    aggs = [
        F.max(F.when(F.col("__sig") == c, F.col("__pct"))).alias(f"pct_{c}")
        for c in score_cols
    ]
    out = scored.groupBy(id_col).agg(*aggs)
    mean_expr = sum(
        (F.col(f"pct_{c}") for c in score_cols), F.lit(0.0)
    ) / F.lit(float(len(score_cols)))
    return out.withColumn("composite", F.round(mean_expr, 6))


def rfm_features(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    as_of: str,
    n_bins: int = 1000,
) -> DataFrame:
    """RFM (recency / frequency / monetary) feature table with calibrated
    percentiles and a blended composite — classic behavioral scoring as
    one aggregate + the :func:`percentile_calibrate` CDF pass (no
    global-order window anywhere).  Recency is NEGATED days-since-last
    (so a higher percentile is always "better" across all three signals
    and the composite mean is meaningful); the anchor is an explicit
    ``as_of``, making the features a pure function of the data (the
    ``decayed_topk`` reproducibility rule)."""
    from pyspark.sql import functions as F

    base = events.groupBy(user_col).agg(
        F.round(
            -(
                (
                    F.unix_micros(F.lit(as_of).cast("timestamp"))
                    - F.max(F.unix_micros(F.col(ts_col)))
                )
                / F.lit(86_400_000_000.0)
            ),
            6,
        ).alias("recency"),
        F.count(F.lit(1)).cast("double").alias("frequency"),
        F.sum(F.col(value_col).cast("decimal(12,2)"))
        .cast("double")
        .alias("monetary"),
    )
    return percentile_calibrate(
        base, user_col, ["recency", "frequency", "monetary"], n_bins=n_bins
    )


def cluster_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    cluster_id_col: str = "cluster_id",
    cluster_doc_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/val/test split: the hash bucket is computed on
    the NEAR-DUP CLUSTER id, not the document id, so a cluster of
    near-duplicates can never straddle train and test — the contamination
    mode :func:`dataset_split` cannot prevent (two near-identical docs
    hash to different buckets and one leaks the other's test answers
    into train).

    ``clusters`` is an (doc_id, cluster_id) mapping — the output of
    :func:`~pgferry_spark.operators.dedup.dedup_clusters` over near-dup
    candidate pairs.  Singleton documents (absent from ``clusters``) keep
    their own id as the split key via the left join + coalesce, so the
    operator composes as a drop-in upgrade: identical assignment to
    ``dataset_split`` wherever no near-dup structure exists, cluster-
    atomic assignment where it does.

    Cost: the one broadcast-or-shuffle join against the cluster mapping
    (bounded by documents WITH near-dups, typically ≪ corpus) — the
    split itself stays a pure map-side hash function."""
    m = clusters.select(
        F.col(cluster_doc_col).alias(id_col),
        F.col(cluster_id_col).alias("__cluster"),
    )
    joined = df.join(m, on=id_col, how="left")
    key = F.coalesce(F.col("__cluster"), F.col(id_col))
    b = split_bucket(key)
    return joined.withColumn(
        "split",
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    ).drop("__cluster")


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    n_buckets: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    anchor document draws ``k`` pseudo-random partner documents —
    ``(anchor_id, neg_slot, negative_id)`` — with NO RNG state: slot
    ``j`` of anchor ``a`` lands in bucket ``md5(a#j#seed) % n_buckets``
    and picks the member with the smallest ``md5(member#a#j)`` there.
    Rerunning, backfilling, or re-sharding reproduces the exact same
    pairs (the same engine-portability argument as ``dataset_split``),
    and the md5 arithmetic replays verbatim in the SQL oracle.

    Scale shape: documents bucket once (map-only); anchors explode ×k
    and hash-equi-join their target bucket, so the intermediate is
    ``k · N · (N / n_buckets)`` rows — set ``n_buckets ∝ N`` (bounded
    bucket size) and the join is candidate-LINEAR, never N². One window
    per (anchor, slot) picks the winner. A slot whose bucket contains
    only the anchor itself yields no row (deterministic, documented —
    callers needing exactly-k re-probe with a shifted seed)."""
    b_of = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.lit(n_buckets),
    )
    docs = df.select(F.col(id_col).alias("__m"), b_of.alias("__b"))
    slots = F.array(*[F.lit(j) for j in range(k)])
    anchors = df.select(
        F.col(id_col).alias("anchor_id"), F.explode(slots).alias("neg_slot")
    )
    tgt = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("anchor_id").cast("string"),
                        F.col("neg_slot").cast("string"),
                        F.lit(str(seed)),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long"),
        F.lit(n_buckets),
    )
    cand = (
        anchors.withColumn("__tb", tgt)
        .join(docs, F.col("__tb") == F.col("__b"))
        .filter(F.col("__m") != F.col("anchor_id"))
    )
    pick = F.md5(
        F.concat_ws(
            "#",
            F.col("__m").cast("string"),
            F.col("anchor_id").cast("string"),
            F.col("neg_slot").cast("string"),
        )
    )
    # struct-MIN aggregate, not a row_number window: the winner per
    # (anchor, slot) is min(pick, member), which partial aggregation
    # shrinks map-side to one row per group per partition BEFORE the
    # shuffle — the window form sorted the full k·N·bucket candidate
    # stream through one exchange (measured 4 s -> ~1 s at sf0.1)
    best = F.min(F.struct(pick.alias("p"), F.col("__m").alias("m")))
    return (
        cand.groupBy("anchor_id", "neg_slot")
        .agg(best.alias("__best"))
        .select(
            "anchor_id",
            F.col("neg_slot").cast("int").alias("neg_slot"),
            F.col("__best.m").alias("negative_id"),
        )
    )


def curation_funnel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_quality: float = 0.3,
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Observability for :func:`curate_corpus`: ONE row counting survivors
    at every stage of the curation DAG — ``(n_input, n_quality_pass,
    n_after_dedup, n_train, n_val, n_test)`` — the run manifest a data
    team reviews before shipping a corpus (and diffs across runs to
    catch a filter suddenly eating 40% of a source).

    Single pass: quality, fingerprint, and the dedup keeper flag (min id
    per fingerprint AMONG quality passers — matching curate_corpus's
    stage order exactly) compute as Column expressions + one window, and
    every stage count is a conditional aggregate over the same rows. The
    oracle replays all six counts from identical rules."""
    from pyspark.sql.window import Window

    from ..functions.text import fingerprint, pii_scrub, quality_score

    scrubbed = df.withColumn("__t", pii_scrub(F.col(text_col)))
    q = scrubbed.withColumn(
        "__q", F.round(quality_score(F.col("__t")), 4)
    ).withColumn("__pass", F.col("__q") >= min_quality)
    fp = q.withColumn("__fp", fingerprint(F.col("__t")))
    keep = F.min(F.when(F.col("__pass"), F.col(id_col))).over(
        Window.partitionBy("__fp")
    )
    flagged = fp.withColumn(
        "__kept", F.col("__pass") & (F.col(id_col) == keep)
    )
    b = split_bucket(F.col(id_col))
    return flagged.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("__pass"), 1).otherwise(0)).alias("n_quality_pass"),
        F.sum(F.when(F.col("__kept"), 1).otherwise(0)).alias("n_after_dedup"),
        F.sum(
            F.when(F.col("__kept") & (b < train_pct), 1).otherwise(0)
        ).alias("n_train"),
        F.sum(
            F.when(
                F.col("__kept") & (b >= train_pct) & (b < train_pct + val_pct),
                1,
            ).otherwise(0)
        ).alias("n_val"),
        F.sum(
            F.when(F.col("__kept") & (b >= train_pct + val_pct), 1).otherwise(0)
        ).alias("n_test"),
    )


def source_datasheet(
    df: DataFrame, text_col: str, id_col: str, source_col: str
) -> DataFrame:
    """Per-source datasheet row — docs, token volume, distinct normalized
    fingerprints, dup rate, mean quality — the table a mixture design
    starts from (which sources carry weight, which need dedup, which are
    junk). One aggregation shuffle on the source key; the per-row
    token/quality/fingerprint work is map-only Column expressions."""
    from ..functions.text import fingerprint, quality_score, tokens

    per = df.select(
        F.col(source_col),
        F.size(tokens(F.col(text_col))).alias("__ntok"),
        fingerprint(F.col(text_col)).alias("__fp"),
        quality_score(F.col(text_col)).alias("__q"),
    )
    return per.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("__ntok").alias("total_tokens"),
        F.count_distinct("__fp").alias("distinct_fps"),
        F.round(
            1.0 - F.count_distinct("__fp") / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_rate"),
        F.round(F.avg("__q"), 6).alias("mean_quality"),
    )
