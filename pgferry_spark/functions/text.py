"""Text-analysis column functions for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting — all as built-in-function Column expressions so they
run JVM-side at 100 TB (no Python in the hot path). Every function here has
an ANSI-SQL twin used by the DuckDB oracle in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists — deterministic heuristic, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
}

_WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization; empty/blank text → empty array."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, _WS)
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def avg_token_len(col: Column) -> Column:
    """Mean token length, NULL for empty docs."""
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(total.cast("double") / n)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters in a fixed punctuation class."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, r"[.,;:!?]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - stripped).cast("double") / n)


# -- unicode script profiling -------------------------------------------------
#
# Multilingual curation keys on the SCRIPT of a document before any
# language model sees it (language-ID stopword lists only cover languages
# you anticipated; script ranges cover everything in the range).  The
# ranges are written as LITERAL characters, not \p{Script} classes or \u
# escapes: Java regex spells scripts \p{IsCyrillic} while RE2 spells them
# \p{Cyrillic}, and \uXXXX only unescapes on the Java side — literal
# UTF-8 endpoints are the one spelling BOTH engines read identically
# (probed: identical counts on a mixed-script golden).

SCRIPT_RANGES = {
    "latin": "A-Za-z",
    "cyrillic": "а-яА-ЯЁё",
    "cjk": "一-鿿",          # U+4E00..U+9FFF unified ideographs
    "arabic": "ء-ي",         # U+0621..U+064A base letters
    "greek": "α-ωΑ-Ω",       # includes final sigma (U+03C2)
    "hebrew": "א-ת",         # U+05D0..U+05EA
    "devanagari": "ऀ-ॿ",     # U+0900..U+097F
    "hangul": "가-힣",        # U+AC00..U+D7A3 syllables
    "kana": "ぁ-ヿ",          # U+3041..U+30FF hiragana+katakana
}

# chars-in-range counter: strip everything outside the range, measure.
# {g} absorbs the DuckDB global-flag divergence as everywhere else.
SCRIPT_COUNT_SQL = "length(regexp_replace({col}, '[^{ranges}]', ''{g}))"

# Deterministic multiscript decoration for the all-ASCII test corpus
# (the attach_urls/attach_html pattern): id-keyed literal snippets in
# Cyrillic / CJK / Arabic, one branch mixing two scripts and one left
# pure-Latin, so dominance and tie-break logic both get exercised.
MULTISCRIPT_SYNTH_SQL = (
    "CASE WHEN {id} % 9 = 0 THEN {txt} || ' привет мир как дела сегодня' "
    "WHEN {id} % 9 = 1 THEN {txt} || ' 世界你好今天天氣很好 こんにちは' "
    "WHEN {id} % 9 = 2 THEN {txt} || ' مرحبا بالعالم كيف الحال اليوم' "
    "WHEN {id} % 9 = 3 THEN substr({txt}, 1, 10) || ' мир 世界 мир 世界' "
    "WHEN {id} % 9 = 4 THEN {txt} || ' γειά σου κόσμε σήμερα καλημέρα' "
    "WHEN {id} % 9 = 5 THEN {txt} || ' שלום עולם מה שלומך היום חבר' "
    "WHEN {id} % 9 = 6 THEN {txt} || ' 안녕하세요 세계 오늘 날씨 좋다' "
    "WHEN {id} % 9 = 7 THEN substr({txt}, 1, 8) || ' こんにちは せかい きょう' "
    "ELSE {txt} END"
)


def script_count(col_name: str, script: str) -> Column:
    """Number of characters of ``script`` in the named column (map-only
    codegen; shared template with the oracle — takes a column NAME, not
    a Column, because the template is a SQL string both engines eval)."""
    return F.expr(
        SCRIPT_COUNT_SQL.format(
            col=col_name, ranges=SCRIPT_RANGES[script], g=""
        )
    )


def script_profile(df, text_col: str, id_col: str):
    """Per-document unicode-script profile: character count per script
    range plus the dominant script (most characters; ties broken by the
    fixed range order, 'und' when nothing matches) — the multilingual
    curation gate that runs BEFORE language ID, since stopword lists
    only cover anticipated languages while script ranges cover the
    codepoint space.  One map-only projection, no shuffle, no UDF."""
    counts = {s: script_count(text_col, s) for s in SCRIPT_RANGES}
    best = F.greatest(*counts.values())
    dom = F.lit("und")
    for s in reversed(list(SCRIPT_RANGES)):
        dom = F.when((counts[s] == best) & (best > 0), F.lit(s)).otherwise(dom)
    cols = [F.col(id_col)]
    cols += [counts[s].alias(f"n_{s}") for s in SCRIPT_RANGES]
    cols.append(dom.alias("dominant_script"))
    return df.select(*cols)


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length docs and
    prose-like token lengths, penalizes punctuation soup. Weights are fixed
    constants so the score is reproducible."""
    n_tok = token_count(col).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    atl = F.coalesce(avg_token_len(col), F.lit(0.0))
    atl_score = F.when((atl >= 3.0) & (atl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return F.round(0.4 * len_score + 0.3 * atl_score + 0.3 * punct_score, 4)


# -- token-array variants ----------------------------------------------------
#
# Each metric above re-tokenizes its input, which is fine for a single metric
# but wasteful when a curation query derives several: the split runs once per
# metric and the repeated subtrees inflate Catalyst analysis + codegen time.
# These variants take a precomputed token array (``tokens(col)``) so a
# multi-metric projection tokenizes ONCE. Semantics are identical — verified
# by the same DuckDB oracles.


def avg_token_len_t(toks: Column) -> Column:
    """`avg_token_len` over a precomputed token array."""
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n == 0, F.lit(None).cast("double")).otherwise(total.cast("double") / n)


def stopword_hits_t(ltoks: Column, lang: str = "en") -> Column:
    """Stopword hits of ``lang`` among precomputed LOWERCASE tokens
    (lowering tokens elementwise equals tokenizing lowered text: \\s+ is
    case-stable)."""
    words = STOPWORDS[lang]
    return F.size(F.filter(ltoks, lambda t: t.isin(*words)))


def lang_id_t(ltoks: Column) -> Column:
    """Pick the language whose stopword list scores the most hits among
    precomputed lowercase tokens; ties and zero-hit docs fall back to
    'und' (undetermined). Deterministic tie-break: language-code
    ascending."""
    hits = {lang: stopword_hits_t(ltoks, lang) for lang in sorted(STOPWORDS)}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # build reverse-order CASE so the FIRST language in sorted order wins ties
    for lang in sorted(STOPWORDS, reverse=True):
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score_t(toks: Column, col: Column) -> Column:
    """`quality_score` with the tokenization hoisted out; ``col`` is still
    needed for the character-level punctuation ratio."""
    n_tok = F.size(toks).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    atl = F.coalesce(avg_token_len_t(toks), F.lit(0.0))
    atl_score = F.when((atl >= 3.0) & (atl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return F.round(0.4 * len_score + 0.3 * atl_score + 0.3 * punct_score, 4)


def normalize_ws(col: Column) -> Column:
    """Canonical whitespace form: lowercase, collapse runs, trim."""
    return F.trim(F.regexp_replace(F.lower(col), _WS, " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized text. Two docs
    differing only in case/whitespace collide — the standard first-pass
    near-dup key before MinHash."""
    return F.md5(normalize_ws(col))


# -- subword (BPE-ish) token counting ----------------------------------------

# GPT-2-style pretokenizer approximation, restricted to constructs with
# identical semantics in Java regex and RE2/DuckDB (no lookarounds):
# a token is an optionally-space-prefixed letter run, digit run, or
# punctuation run. Whitespace itself is not a token.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column) -> Column:
    """Subword pretokens as array<string> (the unit an LLM tokenizer's BPE
    merge table would subdivide further — counting these approximates token
    cost without shipping a merge table into the cluster)."""
    return F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: Column) -> Column:
    return F.size(bpe_tokens(col))


# -- rolling-hash winnowing fingerprints (MOSS-style) ------------------------


def char_kgram_hashes(col: Column, k: int = 5) -> Column:
    """Hash of every overlapping character k-gram, as array<bigint>. The
    per-gram hash is the first 32 bits of md5 — portable bit-for-bit to the
    ANSI-SQL oracle (same trick as simhash32_md5)."""
    n = F.length(col)
    idx = F.when(
        n < k, F.array().cast("array<int>")
    ).otherwise(F.sequence(F.lit(1), n - (k - 1)))
    return F.transform(
        idx,
        lambda i: F.conv(
            F.substring(F.md5(col.substr(i, F.lit(k))), 1, 8), 16, 10
        ).cast("long"),
    )


def winnow_fingerprints_batch(k: int = 5, w: int = 4):
    """Arrow-batched twin of :func:`winnow_fingerprints` — bit-identical
    fingerprints (same md5-prefix gram hash, same window minima, same
    first-occurrence distinct order), built in C instead of interpreted
    expression evaluation.

    Why it exists: higher-order Column lambdas (``transform``/``slice``/
    ``array_min``) are *interpreted* — Catalyst does not codegen them — so
    the expression form pays an interpreter dispatch per gram **and** an
    md5 JNI round-trip per gram: measured ~180 ms/doc at sf0.001
    (~90 s for 500 docs on one core).  This UDF does hashlib md5 on each
    gram and a numpy sliding-window min: ~1 ms/doc, ~100× faster, and the
    Arrow batch transfer amortizes the Python hop.  Use THIS in any
    pipeline that fingerprints a corpus; the expression form remains for
    environments where a Python worker is unavailable."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _fps(texts):
        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append([])
                continue
            hs = np.fromiter(
                (
                    int(hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:8], 16)
                    for i in range(len(t) - k + 1)
                ),
                dtype=np.int64,
            )
            if len(hs) <= w:
                mins = hs.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(hs, w).min(axis=1)
            out.append(pd.unique(mins).tolist())  # order-preserving distinct
        return pd.Series(out)

    _fps.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_fps, "array<long>")


def winnow_fingerprints(col: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing (MOSS) document fingerprints: the distinct minima of every
    ``w``-wide window over the k-gram hash sequence.

    Guarantee: any shared substring of length ≥ k+w-1 between two documents
    yields at least one shared fingerprint — the standard rolling-hash
    selection that keeps ~1/w of the grams while staying match-complete.
    Pure Column expressions (transform/slice/array_min): map-only, no
    shuffle, no UDF — but INTERPRETED (higher-order lambdas don't codegen);
    prefer :func:`winnow_fingerprints_batch` on the corpus path, ~100×
    faster with identical output."""
    h = char_kgram_hashes(col, k)
    m = F.size(h)
    mins = F.when(m == 0, F.array().cast("array<bigint>")).otherwise(
        F.when(m <= w, F.array(F.array_min(h))).otherwise(
            F.transform(
                F.sequence(F.lit(1), m - (w - 1)),
                lambda i: F.array_min(F.slice(h, i, w)),
            )
        )
    )
    return F.array_distinct(mins)


# -- PII scrubbing -----------------------------------------------------------

# Patterns restricted to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): no lookarounds, no backreferences. Order
# matters: emails are scrubbed before phones so the digits of a mailbox
# like user2024@x.com can't be half-eaten by the phone pattern.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9()\. -]{6,}[0-9]"

_PII_ORDERED = (
    (PII_EMAIL, "<EMAIL>"),
    (PII_IPV4, "<IP>"),
    (PII_PHONE, "<PHONE>"),
)


def pii_scrub(col: Column) -> Column:
    """Redact emails, IPv4 addresses, and phone-shaped digit runs with
    typed placeholder tokens — the standard pre-training privacy pass.
    Chained ``regexp_replace``: pure JVM expressions, map-only."""
    out = col
    for pat, tag in _PII_ORDERED:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_count(col: Column) -> Column:
    """Number of PII spans :func:`pii_scrub` would redact (counted on the
    same progressively-scrubbed text so the two functions agree)."""
    n = F.lit(0)
    cur = col
    for pat, tag in _PII_ORDERED:
        n = n + F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
        cur = F.regexp_replace(cur, pat, tag)
    return n


# Card-shaped digit runs: 13-19 digits in groups separated by single
# spaces (RE2-safe like the patterns above — no lookarounds).
PII_CARD_RUN = r"[0-9][0-9 ]{11,22}[0-9]"


def luhn_sum(col: Column) -> Column:
    """The Luhn checksum sum (ISO/IEC 7812) of a digits-only string:
    from the RIGHTMOST digit, every second digit doubles (minus 9 when
    the double exceeds 9). Pure JVM expressions (split/transform/
    aggregate); the split's ``(?!^)`` lookahead is Spark-side only —
    the DuckDB twin indexes with ``range`` + ``substr`` instead."""
    # the zero-width split also matches at end-of-string, leaving a
    # trailing "" element — drop empties before casting
    rev_chars = F.filter(
        F.split(F.reverse(col), "(?!^)"), lambda c: c != ""
    )
    d = lambda c: c.cast("int")  # noqa: E731

    vals = F.transform(
        rev_chars,
        lambda c, i: F.when(i % 2 == 0, d(c)).otherwise(
            F.when(d(c) * 2 > 9, d(c) * 2 - 9).otherwise(d(c) * 2)
        ),
    )
    return F.aggregate(vals, F.lit(0), lambda acc, v: acc + v)


def luhn_valid(col: Column) -> Column:
    """Luhn validity: sum divisible by 10 on a non-empty digit string.
    This is the validation step that separates a real card number from a
    phone-shaped digit run — checksum-validated PII detection instead of
    regex-only."""
    return (F.length(col) > 0) & (luhn_sum(col) % 10 == 0)


def card_candidates(col: Column) -> Column:
    """All card-shaped digit runs in ``col``, separators stripped, kept
    only when the digit count is a plausible card length (13-19). Feed
    each element to :func:`luhn_valid` for checksum validation."""
    runs = F.regexp_extract_all(col, F.lit(PII_CARD_RUN), 0)
    cleaned = F.transform(runs, lambda r: F.regexp_replace(r, " ", ""))
    return F.filter(
        cleaned, lambda s: (F.length(s) >= 13) & (F.length(s) <= 19)
    )


# -- inverted index / keyword search -----------------------------------------


def inverted_index_pairs(df, text_col: str, id_col: str):
    """Inverted-index rows: (token, doc_id, tf, doc_freq, posting_rank) —
    one row per distinct (token, document), with the token's corpus
    document frequency and the document's 1-based position in the sorted
    posting list.

    This is the exploded (row) form of a token→postings map: identical
    information, but every cell scalar (portable to any engine, no
    array-representation ambiguity) and shardable by token at 100 TB —
    a stopword's million-document posting list is a million rows spread
    across partitions, not one giant array in one task. One explode + one
    (token, doc) aggregate + one token window."""
    from pyspark.sql import DataFrame  # noqa: F401
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    tf = toks.groupBy("token", id_col).agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("token")
    return tf.select(
        "token",
        F.col(id_col),
        "tf",
        F.count(F.lit(1)).over(w).alias("doc_freq"),
        F.row_number()
        .over(w.orderBy(F.col(id_col).asc()))
        .alias("posting_rank"),
    )


def keyword_search_all(df, text_col: str, id_col: str, terms: list[str]):
    """Documents containing EVERY term in ``terms`` (conjunctive boolean
    search over the inverted index), with the summed term frequency as a
    rank signal. The term filter prunes the index before the per-doc
    aggregate, so work is linear in the query terms' posting lists — the
    classic intersect-smallest-postings plan, expressed relationally."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    ).filter(F.col("token").isin([t.lower() for t in terms]))
    return (
        toks.groupBy(id_col)
        .agg(
            F.count_distinct(F.col("token")).alias("n_terms"),
            F.count(F.lit(1)).alias("total_tf"),
        )
        .filter(F.col("n_terms") == len(terms))
        .select(F.col(id_col), F.col("total_tf"))
    )


def vocab_topk(df, text_col: str, id_col: str, k: int = 100):
    """Corpus vocabulary heavy hitters: the ``k`` most frequent (lowercased,
    whitespace) tokens with their rank and cumulative corpus-coverage share
    — the first question a tokenizer/vocab build asks of a new corpus
    ("how much of the token stream do the top-k types cover?").

    Scale shape: one tokenize+explode scan → partial+final count aggregate
    (map-side combine keeps the shuffle at distinct-token cardinality, not
    token-stream cardinality) → TakeOrdered top-k. The cumulative-share
    window runs on the k-row result only — never a global sort of the
    vocabulary — and the corpus token total rides along via a 1-row
    broadcast. Ordering is deterministic: (count desc, token asc).

    fan_out + explode_outer: spread a single-file input before the
    per-row tokenize, and keep Catalyst from inferring a size()>0 filter
    that clones the tokenize into the scan (the documented explode
    pathology)."""
    from pyspark.sql.window import Window

    from ..utils import fan_out

    toks = (
        fan_out(df, id_col)
        .select(F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("token"))
        .filter(F.col("token").isNotNull())
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(k)
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "cnt",
        F.round(
            F.sum("cnt").over(w) / F.col("total").cast("double"), 6
        ).alias("cum_share"),
    )


def chunk_documents(
    df,
    text_col: str,
    id_col: str,
    max_tokens: int = 64,
    overlap: int = 16,
):
    """Sliding-window document chunking — the context-window prep step for
    RAG indexing and long-document training: each document becomes
    ``ceil((n_tokens - overlap) / stride)`` chunks of ``max_tokens`` tokens
    with ``overlap`` tokens shared between neighbors (``stride =
    max_tokens - overlap``; the final chunk may be short; documents
    shorter than one window yield exactly one chunk).

    Output: ``(id, chunk_idx, chunk_text, n_tokens)``.

    Map-only — one HOF ``transform`` over the token array plus a
    ``posexplode``; zero shuffle at any corpus size, so the pass is scan-
    bandwidth-bound like every other per-document expression here."""
    if overlap >= max_tokens:
        raise ValueError(f"overlap {overlap} must be < max_tokens {max_tokens}")
    stride = max_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # ceil((n - overlap) / stride) chunks, minimum 1 for any non-blank doc
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * stride + 1, max_tokens),
    )
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "__c"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join("__c", " ").alias("chunk_text"),
            F.size("__c").cast("int").alias("n_tokens"),
        )
    )


def ngram_topk(df, text_col: str, id_col: str, n: int = 3, k: int = 50,
               min_doc_freq: int = 2):
    """Corpus boilerplate / contamination profiler: the ``k`` word
    n-grams shared by the most documents, with document frequency and
    corpus share — the n-gram sibling of :func:`vocab_topk` and the
    first diagnostic a span-dedup / contamination pass runs ("which
    phrases repeat across the corpus, and how widely?"). High-doc-share
    n-grams are boilerplate (headers, licenses, templates) that inflate
    LSH buckets and leak across train/test splits.

    Scale shape: per-doc DISTINCT shingles (one HOF transform — doc
    frequency needs membership, not multiplicity) → explode → one
    gram-keyed count aggregate (map-side combined, shuffle at distinct-
    gram cardinality) → TakeOrdered top-k with a deterministic
    (doc_freq desc, ngram asc) tie-break; the doc total rides along as
    a 1-row broadcast. ``min_doc_freq`` prunes the singleton tail
    before the TakeOrdered."""
    from ..operators.dedup import ngram_set
    from ..utils import fan_out

    grams = (
        fan_out(df, id_col)
        .select(F.explode_outer(ngram_set(F.col(text_col), n)).alias("ngram"))
        .filter(F.col("ngram").isNotNull())
    )
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("doc_freq"))
    total = df.agg(F.count(F.lit(1)).alias("__nd"))
    return (
        counts.filter(F.col("doc_freq") >= min_doc_freq)
        .orderBy(F.col("doc_freq").desc(), F.col("ngram").asc())
        .limit(k)
        .crossJoin(F.broadcast(total))
        .select(
            "ngram",
            "doc_freq",
            F.round(F.col("doc_freq") / F.col("__nd"), 6).alias("doc_share"),
        )
    )
