"""Corpus-hygiene filters for training-data curation.

Three filter families every large-scale LLM data pipeline runs before
training, each expressed in the Spark shape that survives 100 TB:

- **Repetition stats** (Gopher-style quality rules): per-document
  duplicate-token fraction, most-common-token fraction, and
  most-common-bigram fraction. All three are computed with array
  expressions on each row — a map-only pass with NO shuffle; cost is
  linear in corpus size and independent of corpus row count.
- **Benchmark contamination**: documents sharing any word ``n``-gram with
  a (small) benchmark set. The benchmark's shingle set is broadcast; the
  corpus side explodes its shingles, semi-joins the broadcast set, and
  aggregates per document — one shuffle, keyed by doc id, linear in the
  contaminated shingle hits.
- **Length outliers**: per-language exact percentile bounds computed in
  one aggregate over the corpus, broadcast back, and applied as a filter —
  two passes, no per-language sort.

Every operator has a DuckDB oracle twin in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pgferry_spark.functions.text import tokens
from pgferry_spark.utils import fan_out


def _ngrams(toks, n: int):
    """Word n-grams as space-joined strings; empty when the doc is shorter
    than ``n``. transform(sequence(...)) keeps it a single JVM expression."""
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def _top_count(arr):
    """Occurrences of the most frequent element. O(distinct × n) per row,
    all inside whole-stage codegen — fine for document-sized arrays and
    embarrassingly parallel at corpus scale."""
    return F.array_max(
        F.transform(
            F.array_distinct(arr),
            lambda x: F.size(F.filter(arr, lambda y: y == x)),
        )
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document repetition diagnostics (Gopher rules C4/Rep):

    - ``dup_word_frac``: fraction of token occurrences beyond each type's
      first (1 - distinct/total),
    - ``top_word_frac``: most common token's share of all tokens,
    - ``top_bigram_frac``: most common bigram's share of all bigrams
      (NULL when the document has fewer than 2 tokens).

    Map-only: no shuffle, no UDF (``fan_out`` adds one only when the
    input arrives under-partitioned, e.g. a single parquet file that
    would otherwise serialize the per-row array work onto one core)."""
    toks = tokens(F.lower(F.col(text_col)))
    out = fan_out(df, id_col).select(F.col(id_col), toks.alias("toks")).select(
        id_col,
        F.size("toks").alias("n_tokens"),
        F.col("toks").alias("toks"),
        _ngrams(F.col("toks"), 2).alias("bigrams"),
    )
    n = F.col("n_tokens")
    nb = F.size("bigrams")
    return out.select(
        id_col,
        "n_tokens",
        F.round(
            F.when(n == 0, F.lit(0.0)).otherwise(
                (n - F.size(F.array_distinct("toks"))).cast("double") / n
            ),
            6,
        ).alias("dup_word_frac"),
        F.round(
            F.when(n == 0, F.lit(None).cast("double")).otherwise(
                _top_count(F.col("toks")).cast("double") / n
            ),
            6,
        ).alias("top_word_frac"),
        F.round(
            F.when(nb == 0, F.lit(None).cast("double")).otherwise(
                _top_count(F.col("bigrams")).cast("double") / nb
            ),
            6,
        ).alias("top_bigram_frac"),
    )


_BLOCKWORD_RE_STR = r"^[a-z0-9_-]+$"


def _check_blockwords(words: tuple[str, ...]) -> None:
    import re as _re

    if not words:
        raise ValueError("blockword gate: empty word list")
    for w in words:
        if not _re.match(_BLOCKWORD_RE_STR, w):
            raise ValueError(
                f"blockword gate: word {w!r} outside safe charset"
                f" {_BLOCKWORD_RE_STR}"
            )


def blockword_flags(
    df: DataFrame,
    words: tuple[str, ...],
    text_col: str,
    id_col: str,
) -> DataFrame:
    """C4's document-level word-list gate (Raffel et al. 2020 §2.2
    applied a public blocklist and dropped any page containing a listed
    word): per-document ``(id, blocked)`` where blocked means ANY
    lowercased whitespace token equals a listed word — TOKEN equality,
    not substring containment, so a word embedded inside a longer
    innocent token never trips the rule (the Scunthorpe failure the
    naive contains() form carries).  Map-only: one ``arrays_overlap``
    against a literal array; the list is config-scale and rides the
    plan, no join.  Words are validated against the same safe charset
    as the URL keyword gate (they are interpolated into the oracle's
    SQL literal)."""
    _check_blockwords(words)
    ltoks = F.transform(tokens(F.col(text_col)), F.lower)
    hit = F.arrays_overlap(ltoks, F.array(*[F.lit(w) for w in words]))
    return df.select(F.col(id_col), hit.alias("blocked"))


# Gopher document-quality rules (Rae et al. 2021, "Scaling Language
# Models", Appendix A1.1): the eight named per-document gates every
# Gopher/MassiveWeb-style pipeline applies after repetition filtering.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# deterministic decoration for the too-clean synthetic corpus: one
# class per failure mode (all-bullet doc, ellipsis line, symbol soup)
# plus an undecorated class — pure CASE/concat, both engines verbatim.
GOPHER_SYNTH_SQL = (
    "CASE WHEN {id} % 4 = 0 THEN '- ' || {txt}"
    " WHEN {id} % 4 = 1 THEN {txt} || '...'"
    " WHEN {id} % 4 = 2 THEN '### ' || {txt} || ' ####'"
    " ELSE {txt} END"
)


def gopher_quality_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher A1.1 document-quality gates as one map-only flag
    table: word-count bounds, mean word length 3-10, symbol-to-word
    ratio ('#' and ellipsis) <= 0.1, <= 90% of lines bullet-started,
    <= 30% of lines ellipsis-ended, >= 80% of words carrying an
    alphabetic character, and >= ``min_stopwords`` distinct presence
    hits from the canonical 8-stopword list.  Returns every signal
    plus the conjunction (``passes``) so downstream can filter OR
    audit per-rule drop rates.  Blank documents (zero tokens) are
    excluded.  All array/HOF expressions — no UDF, no shuffle; at
    100 TB this is scan-bound like the repetition stats."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    total_chars = F.aggregate(
        toks, F.lit(0), lambda a, w: a + F.length(w)
    )
    mean_wl = total_chars / n_words
    sym_cnt = (
        (F.length(t) - F.length(F.expr(f"replace({text_col}, '#', '')")))
        + (
            F.length(t)
            - F.length(F.expr(f"replace({text_col}, '...', '')"))
        ) / F.lit(3)
        + (F.length(t) - F.length(F.expr(f"replace({text_col}, '…', '')")))
    )
    lines = F.split(t, "\n")
    n_lines = F.size(lines)

    def _bullet(l):
        lt = F.trim(l)
        return (
            lt.startswith("- ") | lt.startswith("• ") | lt.startswith("* ")
        )

    bullet_lines = F.size(F.filter(lines, _bullet))
    ell_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…"),
        )
    )
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    ltoks = F.transform(toks, F.lower)
    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.array_contains(ltoks, w).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_cnt / n_words, 6).alias("symbol_ratio"),
        F.round(bullet_lines / n_lines, 6).alias("bullet_line_ratio"),
        F.round(ell_lines / n_lines, 6).alias("ellipsis_line_ratio"),
        F.round(alpha_words / n_words, 6).alias("alpha_word_ratio"),
        stop_hits.alias("n_stopword_hits"),
    ).filter(F.col("n_words") > 0)
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_ratio") <= max_bullet_ratio)
        & (F.col("ellipsis_line_ratio") <= max_ellipsis_ratio)
        & (F.col("alpha_word_ratio") >= min_alpha_ratio)
        & (F.col("n_stopword_hits") >= min_stopwords)
    )
    return out.withColumn("passes", passes)


# FineWeb custom quality filters (Penedo et al. 2024, "The FineWeb
# Datasets", §3.6 "additional quality filters"): three line-level
# document gates developed on top of the C4/Gopher sets.  A document is
# REMOVED when (a) the fraction of lines ending in punctuation is
# <= 0.12, (b) the fraction of characters in duplicated lines is
# >= 0.1, or (c) the fraction of lines shorter than 30 characters is
# >= 0.67.
FINEWEB_TERMINAL_PUNCT = (".", "!", "?", '"')

# deterministic decoration for the single-line synthetic corpus: one
# class per verdict — passing (sentence-terminated), punct-fail (the
# raw unterminated text), short-line fail (six appended 'ok.' lines —
# which also trips the dup gate; the class tests the conjunction), and
# a dup-ONLY fail (the whole line repeated once).  Pure concat/repeat,
# both engines verbatim.
FINEWEB_SYNTH_SQL = (
    "CASE WHEN {id} % 4 = 0 THEN {txt} || '.'"
    " WHEN {id} % 4 = 1 THEN {txt}"
    " WHEN {id} % 4 = 2 THEN {txt} || '.' || repeat(chr(10) || 'ok.', 6)"
    " ELSE {txt} || '.' || chr(10) || {txt} || '.' END"
)


def fineweb_quality_flags(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_punct_line_ratio: float = 0.12,
    max_short_line_ratio: float = 0.67,
    max_dup_char_frac: float = 0.1,
    short_len: int = 30,
) -> DataFrame:
    """The three FineWeb custom gates as one map-only flag table:
    ``punct_line_ratio`` (lines ending in terminal punctuation),
    ``short_line_ratio`` (lines under ``short_len`` characters), and
    ``dup_line_char_frac`` (characters carried by repeats of an
    earlier line), plus the conjunction (``passes``).  Blank lines are
    excluded; documents with zero non-blank lines produce no row.

    Scale shape: ZERO shuffle — unlike :func:`line_repetition_stats`
    (whose per-(doc, line) count needs an aggregate exchange), the dup
    fraction here comes from ``array_distinct`` inside the same row:
    ``1 - chars(distinct lines) / chars(all lines)`` is algebraically
    ``sum((c-1)*len) / sum(c*len)``.  All array/HOF expressions; at
    100 TB this is scan-bound."""
    t = F.col(text_col)
    lines = F.filter(
        F.split(t, "\n"), lambda l: F.trim(l) != F.lit("")
    )
    n_lines = F.size(lines)

    def _punct(l):
        lt = F.trim(l)
        hit = None
        for p in FINEWEB_TERMINAL_PUNCT:
            e = lt.endswith(p)
            hit = e if hit is None else (hit | e)
        return hit

    punct_lines = F.size(F.filter(lines, _punct))
    short_lines = F.size(
        F.filter(lines, lambda l: F.length(l) < short_len)
    )
    total_chars = F.aggregate(
        lines, F.lit(0), lambda a, l: a + F.length(l)
    )
    dist_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0), lambda a, l: a + F.length(l)
    )
    out = df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        F.round(punct_lines / n_lines, 6).alias("punct_line_ratio"),
        F.round(short_lines / n_lines, 6).alias("short_line_ratio"),
        F.round(
            (total_chars - dist_chars) / total_chars.cast("double"), 6
        ).alias("dup_line_char_frac"),
    ).filter(F.col("n_lines") > 0)
    passes = (
        (F.col("punct_line_ratio") > min_punct_line_ratio)
        & (F.col("short_line_ratio") < max_short_line_ratio)
        & (F.col("dup_line_char_frac") < max_dup_char_frac)
    )
    return out.withColumn("passes", passes)


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Documents sharing at least one word ``n``-gram with the benchmark
    set: (id, n_hit_shingles, n_shingles, hit_frac), contaminated docs
    only.

    The benchmark's distinct shingles (benchmarks are small — the same
    broadcastability assumption any decontamination pass makes) broadcast
    into a hash semi-join; the corpus explodes its per-doc distinct
    shingles and streams them through the build side, so the benchmark
    set is hashed once per task — NOT once per row (a per-row
    ``array_intersect`` against the broadcast set re-builds the hash set
    for every document: measured 13x slower). ``n_shingles`` rides along
    through the explode, so the corpus text is tokenized exactly once,
    and because the per-doc shingles are distinct-ed BEFORE the explode,
    the surviving (doc, shingle) rows are already unique hits — the
    final per-doc aggregate shuffles only true contamination rows
    (typically a vanishing fraction of the corpus)."""
    bench_shingles = (
        fan_out(benchmark, id_col)
        .select(
            F.explode(_ngrams(tokens(F.lower(F.col(text_col))), n)).alias("shingle")
        )
        .distinct()
    )
    # distinct shingle hits, not positional ones: a doc repeating one
    # leaked shingle 50 times is one contamination, not fifty
    exploded = fan_out(corpus, id_col).select(
        F.col(id_col),
        F.array_distinct(_ngrams(tokens(F.lower(F.col(text_col))), n)).alias(
            "shingles"
        ),
    ).select(
        id_col,
        F.size("shingles").alias("n_shingles"),
        # explode_outer, deliberately: plain explode makes Catalyst infer a
        # `size(shingles) > 0` pruning filter and push it below the fan_out
        # exchange into the scan, cloning the whole shingle construction
        # into a per-row predicate on the (often single-partition) pre-
        # shuffle side — the docs/SCALE.md pushdown pathology, measured
        # ~10x here. explode_outer infers no such filter; the empty-doc
        # null rows it emits are dropped by the semi-join (null never
        # matches a join key).
        F.explode_outer("shingles").alias("shingle"),
    )
    return (
        exploded.join(F.broadcast(bench_shingles), "shingle", "left_semi")
        .groupBy(id_col, "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
        .select(
            id_col,
            "n_hit_shingles",
            "n_shingles",
            F.round(
                F.col("n_hit_shingles").cast("double") / F.col("n_shingles"), 6
            ).alias("hit_frac"),
        )
    )


def unigram_logprob_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """CCNet-style unigram LM quality score: the corpus's own token
    distribution becomes the language model, and each document scores
    its mean token log-probability ``avg(ln(count(token) / total))`` —
    gibberish and boilerplate-heavy documents land in the tails.

    Two shuffles, both on natural keys: the vocabulary aggregate
    (keyed by token — partial aggregation makes the map side emit one
    row per distinct token per partition) and the per-document mean
    (keyed by doc id). The vocabulary joins back token-keyed; Catalyst
    broadcasts it when small, shuffle-joins otherwise — both correct at
    scale. Documents with no tokens are absent from the output (no
    tokens, no distribution to score against).

    The mean is rounded to 6 decimals at the edge: token log-probs sum
    in nondeterministic order across engines, and ``ln`` itself may
    differ in the last ulp between libm implementations."""
    toks = fan_out(df, id_col).select(
        F.col(id_col),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("token"),
    ).filter(F.col("token").isNotNull())
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("total"))), 6
            ).alias("logprob"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame, text_col: str, id_col: str, lam: float = 0.75
) -> DataFrame:
    """Interpolated bigram LM quality score — the next rung above
    :func:`unigram_logprob_scores` on the CCNet/KenLM ladder: each
    document scores ``avg(ln(λ·p(w|prev) + (1−λ)·p(w)))`` over its bigram
    positions, where both distributions come from the corpus itself.
    Word-salad documents (plausible unigrams, impossible transitions)
    separate from real prose here when the unigram score can't tell.

    Scale shape: ONE tokenize pass (``posexplode``); the bigram relation
    derives from a ``lag`` window over (doc, pos) — one shuffle keyed by
    doc id — rather than a positional self-join that would move the
    exploded corpus twice.  The unigram and bigram vocabularies are
    natural-key aggregates with map-side partial aggregation; they join
    back token-keyed (Catalyst broadcasts when small), and the 1-row
    total broadcasts.  Documents with <2 tokens are absent (no bigram to
    score).

    ``lam`` defaults to 0.75 because 0.75 and 0.25 are exact binary
    doubles — an oracle writing ``1 − 0.7`` would embed a different
    double than Python's and diverge in the last ulp.  Mean rounded to
    6dp at the edge (same rationale as the unigram twin)."""
    tok_pos = fan_out(df, id_col).select(
        F.col(id_col),
        F.posexplode_outer(tokens(F.lower(F.col(text_col)))).alias("pos", "token"),
    ).filter(F.col("token").isNotNull())
    # persisted: tok_pos feeds the unigram vocab, the bigram lag window,
    # and the scoring join — without the cache each consumer re-runs the
    # corpus scan + tokenize explode (verified 3 scans in the executed
    # plan). Same lifecycle convention as the LSH bucket table: LRU-evicted
    # or caller-unpersisted.
    tok_pos = tok_pos.persist()
    uni = tok_pos.groupBy("token").agg(F.count(F.lit(1)).alias("cnt_u"))
    total = uni.agg(F.sum("cnt_u").alias("total"))
    w = Window.partitionBy(id_col).orderBy("pos")
    pairs = (
        tok_pos.withColumn("prev", F.lag("token").over(w))
        .filter(F.col("prev").isNotNull())
    )
    big = pairs.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("cnt_b"))
    p = (
        F.lit(float(lam)) * F.col("cnt_b") / F.col("cnt_prev")
        + F.lit(1.0 - float(lam)) * F.col("cnt_u") / F.col("total")
    )
    return (
        pairs.join(big, ["prev", "token"])
        .join(
            uni.select(
                F.col("token").alias("prev"), F.col("cnt_u").alias("cnt_prev")
            ),
            "prev",
        )
        .join(uni, "token")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 6).alias("logprob"),
        )
    )


def kn_trigram_logprob_scores(
    df: DataFrame, text_col: str, id_col: str, discount: float = 0.75
) -> DataFrame:
    """Interpolated Kneser–Ney trigram LM score — the CCNet-grade rung
    above :func:`bigram_logprob_scores` (Wenzek et al. 2020 §4.2 score
    with a 5-gram KN LM; Chen & Goodman 1999 give the interpolated-KN
    form this implements at order 3, the order where the
    continuation-count machinery — the thing that distinguishes KN
    from plain interpolation — is fully exercised):

    - ``p₁(w)      = N₁₊(·w) / N₁₊(··)``              (continuation unigram)
    - ``p₂(w|v)    = max(N₁₊(·vw)−D,0)/N₁₊(·v·) + D·N₁₊(v·)/N₁₊(·v·)·p₁(w)``
    - ``p₃(w|u,v)  = max(c(uvw)−D,0)/c(uv·)   + D·N₁₊(uv·)/c(uv·)·p₂(w|v)``

    where every count derives from the corpus's own trigram TYPE table
    (``N₁₊(·vw)`` = distinct left-contexts of the bigram, etc.), so all
    inputs to the float formula are exact integers and the expression
    replays bit-compatibly on any engine that spells it in the same
    operation order.  ``D`` defaults to 0.75 — the classic absolute
    discount AND an exact binary double (the
    :func:`bigram_logprob_scores` rationale).  Because the corpus IS
    the training data, every scored position has positive counts at
    all three orders — the model is total without an OOV floor.

    Returns ``(id, n_trigrams, logprob, perplexity)`` per document
    with ≥3 tokens: ``logprob = round(avg ln p₃, 6)`` and
    ``perplexity = round(exp(−logprob), 6)`` (exp of the ROUNDED mean,
    so the only cross-engine float hazard is the one the 6dp edge
    round already absorbs).

    Scale shape: ONE tokenize pass (``posexplode``); trigram positions
    from two ``lag``s over the same (doc, pos) window — one shuffle
    keyed by doc id.  All model counts are derived from the trigram
    TYPE table (vocabulary-bounded, far smaller than the position
    stream).  Round 14 (optimization, guide §2.4/§3): the model
    tables pre-join INTO the type table — one model relation keyed
    ``(prev2, prev, token)`` carrying ``ln p₃`` computed once per
    TYPE.  Round 15 (guide §2.4 again): the five separately-aggregated
    model tables (ctx3/cont2/ctx2/cont1 + their four join-backs) are
    replaced by WINDOW functions over the type table itself — every
    one of those aggregates is a per-partition count/sum of tri rows:

    - ``c_ctx``/``n1p_uv``: sum(c3)/count(*) over (prev2, prev);
    - ``cont_vw`` = N₁₊(·vw): count(*) over (prev, token) — tri rows
      are distinct types, so the row count IS the distinct-left-context
      count;
    - one flag marks a single row per (prev, token) class, so
      ``nt_v``/``cont_w`` (distinct-class counts per prev / per token)
      are sums of the flag over (prev) / (token), and ``ctx_v`` is a
      plain count(*) over (prev);
    - ``total_vw`` stays a 1-row aggregate (count distinct classes).

    Same integer counts into the identical float expression — verified
    output-set-equal at sf0.1 — with four aggregate+join legs (and
    their AQE/broadcast job choreography) removed: measured 4.16 s →
    1.34 s for the full scoring chain (JIT-warm, interleaved).  Window
    partition sizes are type-table fan-outs (vocabulary-bounded), never
    corpus-sized.  No window over anything corpus-sized beyond the
    per-doc lag."""
    D = float(discount)
    tok_pos = (
        fan_out(df, id_col)
        .select(
            F.col(id_col),
            F.posexplode_outer(
                tokens(F.lower(F.col(text_col)))
            ).alias("pos", "token"),
        )
        .filter(F.col("token").isNotNull())
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    tri_pos = (
        tok_pos.withColumn("prev", F.lag("token", 1).over(w))
        .withColumn("prev2", F.lag("token", 2).over(w))
        .filter(F.col("prev2").isNotNull())
    )
    # persisted: tri_pos feeds the type table AND the scoring join; tri
    # feeds the windowed model AND the 1-row total — without the caches
    # each consumer re-runs the tokenize+lag subtree (same lifecycle
    # convention as bigram_logprob_scores' tok_pos persist).
    tri_pos = tri_pos.persist()
    tri = tri_pos.groupBy("prev2", "prev", "token").agg(
        F.count(F.lit(1)).alias("c3")
    ).persist()
    w32 = Window.partitionBy("prev2", "prev")
    wvw = Window.partitionBy("prev", "token")
    wv = Window.partitionBy("prev")
    wt = Window.partitionBy("token")
    # the flag's orderBy is arbitrary (any single row per class works);
    # prev2 is distinct within a (prev, token) partition, so it is also
    # deterministic
    flagged = (
        tri.withColumn("c_ctx", F.sum("c3").over(w32))
        .withColumn("n1p_uv", F.count(F.lit(1)).over(w32))
        .withColumn("cont_vw", F.count(F.lit(1)).over(wvw))
        .withColumn(
            "__f",
            F.when(
                F.row_number().over(wvw.orderBy("prev2")) == 1, 1
            ).otherwise(0),
        )
        .withColumn("ctx_v", F.count(F.lit(1)).over(wv))
        .withColumn("nt_v", F.sum("__f").over(wv))
        .withColumn("cont_w", F.sum("__f").over(wt))
    )
    # prev/token are never NULL in tri (prev2 IS NOT NULL implies both
    # lags exist), so count_distinct counts every class
    total = tri.select(
        F.count_distinct(F.col("prev"), F.col("token")).alias("total_vw")
    )
    p1 = F.col("cont_w").cast("double") / F.col("total_vw")
    p2 = (
        F.greatest(F.col("cont_vw").cast("double") - F.lit(D), F.lit(0.0))
        / F.col("ctx_v")
        + F.lit(D) * F.col("nt_v") / F.col("ctx_v") * p1
    )
    p3 = (
        F.greatest(F.col("c3").cast("double") - F.lit(D), F.lit(0.0))
        / F.col("c_ctx")
        + F.lit(D) * F.col("n1p_uv") / F.col("c_ctx") * p2
    )
    # one model relation, ln p₃ once per trigram TYPE — the float
    # expression tree (hence the double it yields) is unchanged; only
    # where its integer inputs come from moved
    model = (
        flagged.crossJoin(F.broadcast(total))
        .select("prev2", "prev", "token", F.log(p3).alias("__lp"))
    )
    lp6 = F.round(F.avg("__lp"), 6) + F.lit(0.0)
    return (
        tri_pos.join(model, ["prev2", "prev", "token"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            lp6.alias("logprob"),
            F.round(F.exp(-lp6), 6).alias("perplexity"),
        )
    )


def line_repetition_stats(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Gopher's WITHIN-document duplicate-line signals (Rae et al. 2021,
    repetition table: 'duplicate line fraction' and 'duplicate line
    character fraction' — the within-doc complement of the corpus-wide
    :func:`~pgferry_spark.operators.html.line_dedup`): per document over
    its newline-split lines, the fraction of lines that are repeats of
    an earlier line and the fraction of characters those repeats carry.
    Pages that render the same nav/footer line every screenful fail
    here while their word-level stats look normal.

    Returns ``(id, n_lines, dup_line_frac, dup_line_char_frac)`` for
    every document with at least one non-blank line; blank lines are
    not counted (the extractor squeezes them anyway).

    Scale shape: one narrow posexplode + a (doc, line) count aggregate
    + a doc rollup — both shuffles keyed by the document id, partition
    sizes bounded by DOCUMENT length, never corpus hot keys (a line
    repeated across the corpus lands in many small per-doc groups, not
    one giant one — the within-doc framing is itself the skew guard)."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("__l"),
    ).filter(F.trim(F.col("__l")) != "")
    per_line = lines.groupBy(id_col, "__l").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return (
        per_line.groupBy(id_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_lines"),
            F.round(
                F.sum(F.col("__c") - 1) / F.sum("__c"), 6
            ).alias("dup_line_frac"),
            F.round(
                F.sum((F.col("__c") - 1) * F.length("__l"))
                / F.sum(F.col("__c") * F.length("__l")),
                6,
            ).alias("dup_line_char_frac"),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str = "lang",
    discount: float = 0.75,
    broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """CCNet perplexity tiers (Wenzek et al. 2020, arXiv:1911.00359
    §4.3): per language, documents split into head / middle / tail
    thirds by their LM score — the quality-mixture knob CommonCrawl
    curation feeds into sampling (train mostly on head, keep some
    middle for diversity, drop or down-weight tail).

    Bucketing is by SCORE CLASS, not by row rank: every document
    sharing a (6dp-quantized) score lands in the same bucket, so ties
    never straddle a tier boundary and the assignment is deterministic
    and engine-replayable.  A document is ``head`` when fewer than a
    third of its language's documents score strictly higher, ``middle``
    below two thirds, else ``tail`` — integer arithmetic only
    (``3·n_gt < n``), no percentile floats.

    Returns ``(id, lang, logprob, bucket)`` for every document with a
    scored trigram.

    Scale shape: scoring is :func:`kn_trigram_logprob_scores` — the
    CCNet-grade interpolated Kneser–Ney trigram LM (round 14; the
    bigram scorer it replaces remains available as
    :func:`bigram_logprob_scores` for the ``lam``-interpolated rung) —
    one tokenize pass; the tier boundaries come from the DISTINCT (lang, score)
    class table — bounded by score quantization, NOT corpus size — so
    the per-language cumulative window ranks classes, never documents,
    and the assignment joins back on (lang, score).  At 100 TB the
    class table is the only globally-ordered artifact.  The join-back
    is row-count-probed like the robots gate (VERDICT r10 Next #8):
    the tiny tier table persists (it must materialize for the probe
    anyway, and the main action then reuses it instead of recomputing
    the scoring subtree), broadcasts under ``broadcast_limit`` classes,
    and rides a shuffle-hash equi-join past it — a pathological corpus
    where 6dp score classes approach corpus cardinality can never OOM
    the driver."""
    from pyspark import StorageLevel

    scored = kn_trigram_logprob_scores(
        df, text_col, id_col, discount=discount
    )
    langs = df.select(F.col(id_col), F.col(lang_col).alias("lang"))
    # persisted: the class/tier subtree AND the returned join-back both
    # read the scored table — without this cache the whole KN scoring
    # chain (tokenize, lag window, model join) runs a second time for
    # the join-back's left side (measured: the most expensive duplicated
    # subtree in the round-14 profile).  Same caller-unpersist lifecycle
    # as the tiers persist below.
    s = (
        scored.join(langs, id_col)
        .select(id_col, "lang", "logprob")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cls = s.groupBy("lang", "logprob").agg(F.count(F.lit(1)).alias("__c"))
    # ONE window spec, two frames (r15): __gt's running sum and __n's
    # partition total share the same (lang, logprob desc) sort, so both
    # evaluate in a single Window node over one exchange+sort — the
    # second unordered partitionBy("lang") spec previously forced a
    # second Window pass.  logprob is unique per (lang, logprob) row by
    # construction (it is the group key), so the running-frame
    # semantics are unchanged.
    wl = Window.partitionBy("lang").orderBy(F.col("logprob").desc())
    cls = (
        cls.withColumn(
            "__gt",
            F.sum("__c").over(
                wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("__c"),
        )
        .withColumn(
            "__n",
            F.sum("__c").over(
                wl.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    bucket = (
        F.when(F.col("__gt") * 3 < F.col("__n"), F.lit("head"))
        .when(F.col("__gt") * 3 < F.col("__n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    # persisted: the probe count below AND the returned join both read
    # the tier table — without the cache the scoring subtree runs
    # twice.  Same lifecycle convention as the tok_pos persist above:
    # LRU-evicted or caller-unpersisted (round-12 note, r11 ADVICE —
    # long-lived sessions invoking this repeatedly should unpersist
    # after materializing the result).
    tiers = cls.select("lang", "logprob", bucket.alias("bucket")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_classes = tiers.count()
    right = (
        F.broadcast(tiers)
        if n_classes <= broadcast_limit
        else tiers.hint("shuffle_hash")
    )
    return s.join(right, ["lang", "logprob"]).select(
        id_col, "lang", "logprob", "bucket"
    )


def length_outlier_bounds(
    df: DataFrame, group_col: str, value_col: str, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Exact interpolated percentile bounds per group — one aggregate.

    Typed ``F.percentile`` API, not an ``F.expr`` SQL string: an
    interpolated column name needing backticks (space, hyphen, keyword)
    broke parsing, and a float interpolation is one locale/format bug away
    from a silent semantic change."""
    v = F.col(value_col).cast("double")
    return df.groupBy(group_col).agg(
        F.percentile(v, F.lit(lo)).alias("lo_bound"),
        F.percentile(v, F.lit(hi)).alias("hi_bound"),
        F.count(v).alias("n_group"),
    )


def length_outlier_filter(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Rows whose ``value_col`` falls OUTSIDE the group's [lo, hi]
    percentile band — the rows a curation pass would drop. Bounds come
    from one aggregate and broadcast back onto the corpus: two scans
    total, no per-group sort of the big side."""
    bounds = length_outlier_bounds(df, group_col, value_col, lo, hi)
    v = F.col(value_col).cast("double")
    return (
        df.join(F.broadcast(bounds), group_col)
        .filter((v < F.col("lo_bound")) | (v > F.col("hi_bound")))
        .select(
            id_col,
            group_col,
            F.col(value_col).cast("long").alias(value_col),
            F.round(F.col("lo_bound"), 6).alias("lo_bound"),
            F.round(F.col("hi_bound"), 6).alias("hi_bound"),
        )
    )


def compressibility_entropy(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Oracle-backed deterministic TWIN of
    :func:`compression_ratio_stats`: the Shannon character entropy is
    the information-theoretic floor any entropy coder (including
    deflate's Huffman stage) approaches, so ``entropy_bits / 8`` tracks
    the same both-tails curation signal — boilerplate scores low, random
    gibberish scores near 1 — in pure JVM expressions.

    Determinism discipline: the per-character terms fold SEQUENTIALLY
    over the SORTED distinct characters (both engines use the same list
    ops in the same order — a ``GROUP BY``/``SUM(double)`` formulation
    would be reduction-order dependent), and the entropy rounds once to
    6 dp. Returns ``(id, n_chars, entropy_bits, est_ratio)``; empty
    docs are absent, mirroring the zlib twin's no-bytes-no-ratio rule.
    Map-only; per-row cost O(len x log len): one fold over the sorted
    characters counts each run of equal characters and adds its term
    when the run ends, so the terms add in sorted-distinct order."""
    chars = F.filter(F.split(F.col(text_col), "(?!^)"), lambda c: c != "")
    n = F.size(chars)

    def run(prev, length, ent, total):
        return F.struct(
            prev.alias("prev"), length.alias("run"), ent.alias("ent"), total.alias("n"),
        )

    def closed(acc):  # entropy with the finished run's term added
        p = acc["run"].cast("double") / acc["n"]
        return acc["ent"] + -p * F.log2(p)

    # every lambda reads the sorted array and the size from its arguments:
    # an expression a lambda body names is re-evaluated per element
    ent = F.round(
        F.aggregate(
            F.array_sort(chars),
            run(F.lit(None).cast("string"), F.lit(0), F.lit(0.0), n),
            lambda acc, c: F.when(
                acc["prev"] == c, run(c, acc["run"] + 1, acc["ent"], acc["n"])
            ).otherwise(
                run(c, F.lit(1), F.when(acc["run"] > 0, closed(acc)).otherwise(acc["ent"]), acc["n"])
            ),
            closed,
        ),
        6,
    )
    return (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(
            F.col(id_col),
            n.alias("n_chars"),
            ent.alias("entropy_bits"),
            # deliberately NOT re-rounded: /8 is exact binary scaling, so
            # both engines hold the identical double — re-rounding a
            # 6dp-value/8 lands exactly on 7th-digit half-boundaries,
            # where Spark's repr-based and DuckDB's value-based rounding
            # disagree
            (ent / 8.0).alias("est_ratio"),
        )
    )


def compression_ratio_stats(
    df: DataFrame, text_col: str, id_col: str, level: int = 6
) -> DataFrame:
    """Per-document deflate compression ratio — the Gopher-family quality
    signal the token-level stats can't replicate: boilerplate and
    template spam compress far below natural prose, and random gibberish
    compresses above it, so both tails are curation candidates from ONE
    cheap signal.  Returns ``(id, n_bytes, ratio)`` with ratio =
    compressed/raw (empty docs are absent — no bytes, no ratio).

    Python is unavoidable here (no JVM deflate expression), so the scan
    is Arrow-batched ``mapInPandas`` — one pass, no shuffle, vectorized
    batch transfer; zlib at a FIXED level keeps the output deterministic
    for the rows-only gate, and the semantics are pinned by unit tests
    (repetitive ≪ prose < random) instead of a SQL oracle DuckDB can't
    express."""
    import pandas as pd
    import zlib

    lvl = int(level)

    def ratios(it):
        for pdf in it:
            if pdf.empty:
                continue
            raw = [t.encode("utf-8") if t else b"" for t in pdf["__t"]]
            n = [len(b) for b in raw]
            keep = [i for i, ln in enumerate(n) if ln > 0]
            yield pd.DataFrame(
                {
                    "id": pdf["__id"].iloc[keep].to_numpy(),
                    "n_bytes": [n[i] for i in keep],
                    "ratio": [
                        round(len(zlib.compress(raw[i], lvl)) / n[i], 6)
                        for i in keep
                    ],
                }
            )

    out = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__t")
    ).mapInPandas(ratios, "id long, n_bytes long, ratio double")
    return out.withColumnRenamed("id", id_col)


def dsir_feature_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
    carry: list[str] | None = None,
) -> DataFrame:
    """(id, [carry...], __b) hashed unigram+bigram feature buckets — the
    feature extractor of :func:`dsir_importance_weights`.  ``carry``
    rides extra columns through the explode (e.g. the trainer's target
    flag) so no join-back is needed."""
    extra = list(carry or [])
    toks = fan_out(df, id_col).select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    grams = toks.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.explode_outer(
            F.concat(
                F.col("__toks"),
                F.when(F.size("__toks") >= 2, F.transform(
                    F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
                    lambda t, i: F.concat_ws(
                        " ", t, F.element_at(F.col("__toks"), i + 2)
                    ),
                )).otherwise(F.array().cast("array<string>")),
            )
        ).alias("__feat"),
    ).filter(F.col("__feat").isNotNull())
    bucket = (
        F.conv(F.substring(F.md5(F.col("__feat")), 1, 8), 16, 10)
        .cast("long") % n_buckets
    )
    return grams.select(F.col(id_col), *extra, bucket.alias("__b"))


def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred,
    n_buckets: int = 4096,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): estimate a
    TARGET feature distribution from the rows matching ``target_pred`` (a
    boolean Column — e.g. the high-quality or in-domain slice) and a RAW
    distribution from everything else, over unigram+bigram features
    hashed into ``n_buckets`` buckets; each document's weight is the mean
    log importance ratio of its features,

        w(doc) = mean_f [ ln p_target(bucket(f)) − ln p_raw(bucket(f)) ]

    with add-``alpha`` smoothing on both sides. High-weight documents
    look like the target domain; resampling/top-k by weight is the
    selection step (compose with ``quota_sample``/``weighted_sample``).

    Returns ``(id, n_feats, dsir_weight)``; docs with no tokens are
    absent (no features to score).

    Scale shape: one tokenize pass emits (doc, bucket, is_target) feature
    rows; the distribution aggregate is keyed by bucket so it collapses
    to ≤ ``n_buckets`` rows (map-side combine does the heavy lifting) and
    BROADCASTS back as the log-ratio table; the only other shuffle is the
    per-document mean. Cost is corpus-linear whatever the corpus size —
    the feature table is the bounded index metadata, exactly like the
    centroid/codebook families. Bucket hashing is the md5-prefix trick
    (portable bit-for-bit to the SQL oracle); ln/mean round to 6dp at the
    edge per the unigram_logprob float rules."""
    flagged = df.withColumn("__tgt", target_pred.cast("boolean"))
    feats = dsir_feature_buckets(
        flagged, text_col, id_col, n_buckets, carry=["__tgt"]
    )

    dist = feats.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("tgt_cnt"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1)).alias("raw_cnt"),
    )
    totals = dist.agg(
        F.sum("tgt_cnt").alias("T"), F.sum("raw_cnt").alias("R")
    )
    a = F.lit(float(alpha))
    b_lit = F.lit(float(n_buckets))
    ratio = dist.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log((F.col("tgt_cnt") + a) / (F.col("T") + a * b_lit))
            - F.log((F.col("raw_cnt") + a) / (F.col("R") + a * b_lit))
        ).alias("__lr"),
    )
    return (
        feats.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.avg("__lr"), 6).alias("dsir_weight"),
        )
    )
