"""Training-data curation entries: LM scores, tokenizers, sampling and PII."""

from __future__ import annotations

from functools import cache

from pyspark.sql import functions as F

from pgferry_spark.entries.common import (
    lake_table as _t, _LTOKS, _QUALITY, _TOKS,
)
from pgferry_spark.entries.registry import register
from pgferry_spark.entries.web import _html_cte
from pgferry_spark.functions import text as T
from pgferry_spark.operators import filters, ranking
from pgferry_spark.utils import fan_out


@register("compression_ratio")
def _compression_ratio(spark, sf):
    """Deflate-ratio quality signal over documents — rows-only (no SQL
    deflate); semantics pinned by tests (repetitive << prose < random)."""
    return filters.compression_ratio_stats(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


@register("text_stats", oracle=lambda: f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   length(text) AS n_chars_m,
                   ROUND(CAST(list_sum(list_transform({_TOKS}, t -> length(t))) AS DOUBLE)
                         / len({_TOKS}), 4) AS avg_token_len,
                   ROUND(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
                         / greatest(length(text), 1), 4) AS punct_ratio,
                   ROUND(
                     {_QUALITY}, 4) AS quality
            FROM documents
        """)
def _text_stats(spark, sf):
    d = _t(spark, sf, "documents")
    txt = F.col("text")
    toked = d.select("doc_id", "text", T.tokens(txt).alias("__toks"))
    return toked.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        T.char_count(txt).alias("n_chars_m"),
        F.round(T.avg_token_len_t(F.col("__toks")), 4).alias("avg_token_len"),
        F.round(T.punct_ratio(txt), 4).alias("punct_ratio"),
        T.quality_score_t(F.col("__toks"), txt).alias("quality"),
    )


stop = {
    "de": "['der','die','das','und','ist','nicht','ein','mit','für','auf']",
    "en": "['the','and','of','to','a','in','is','it','that','for']",
    "es": "['el','la','los','y','es','un','una','para','en','que']",
    "fr": "['le','la','les','et','est','un','une','pour','dans','que']",
}


@cache
def hits():
    return {
        lang: f"len(list_filter({_LTOKS}, x -> list_contains({lst}, x)))"
        for lang, lst in stop.items()
    }


lang_case = (
    f"CASE WHEN h_de = best AND best > 0 THEN 'de' "
    f"WHEN h_en = best AND best > 0 THEN 'en' "
    f"WHEN h_es = best AND best > 0 THEN 'es' "
    f"WHEN h_fr = best AND best > 0 THEN 'fr' ELSE 'und' END"
)


@register("lang_id", oracle=lambda: f"""
            WITH hits AS (
              SELECT doc_id, lang,
                     {hits()['de']} AS h_de, {hits()['en']} AS h_en,
                     {hits()['es']} AS h_es, {hits()['fr']} AS h_fr
              FROM documents
            ), best AS (
              SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM hits
            )
            SELECT doc_id, lang, {lang_case} AS lang_guess FROM best
        """)
def _lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    ltoks = T.tokens(F.lower(F.col("text")))
    return d.select("doc_id", "lang", T.lang_id_t(ltoks).alias("lang_guess"))


@register("bpe_token_count", oracle=lambda: f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS INTEGER) AS n_subwords,
                   CAST(len({_TOKS}) AS INTEGER) AS n_words
            FROM documents
        """)
def _bpe_token_count(spark, sf):
    """Subword (BPE-ish) token counting — LLM token-cost estimation."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.bpe_token_count(F.col("text")).alias("n_subwords"),
        T.token_count(F.col("text")).alias("n_words"),
    )


@register("inverted_index", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS.replace('text', 'lower(text)')}) AS token
              FROM documents
            ),
            tf AS (
              SELECT token, doc_id, COUNT(*) AS tf
              FROM toks GROUP BY token, doc_id
            )
            SELECT token, doc_id, tf,
                   COUNT(*) OVER (PARTITION BY token) AS doc_freq,
                   CAST(ROW_NUMBER() OVER (PARTITION BY token
                                           ORDER BY doc_id ASC) AS INTEGER) AS posting_rank
            FROM tf
        """)
def _inverted_index(spark, sf):
    """Inverted-index rows over documents (scalar exploded form: token,
    doc_id, tf, doc_freq, posting_rank)."""
    d = _t(spark, sf, "documents")
    return T.inverted_index_pairs(d, "text", "doc_id")


@register("keyword_search", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKS.replace('text', 'lower(text)')}) AS token
              FROM documents
            )
            SELECT doc_id, COUNT(*) AS total_tf
            FROM toks
            WHERE token IN ('table', 'window')
            GROUP BY doc_id
            HAVING COUNT(DISTINCT token) = 2
        """)
def _keyword_search(spark, sf):
    """Conjunctive keyword search ('table' AND 'window') with summed tf."""
    d = _t(spark, sf, "documents")
    return T.keyword_search_all(d, "text", "doc_id", ["table", "window"])


@register("corpus_filter", oracle=lambda: f"""
            WITH scored AS (
              SELECT doc_id, lang,
                     ROUND(
                       {_QUALITY}, 4) AS quality,
                     (SELECT {lang_case} FROM (SELECT {hits()['de']} AS h_de, {hits()['en']} AS h_en,
                                                      {hits()['es']} AS h_es, {hits()['fr']} AS h_fr,
                                                      greatest({hits()['de']}, {hits()['en']},
                                                               {hits()['es']}, {hits()['fr']}) AS best)) AS lang_guess,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents
            ), keepers AS (
              SELECT fp, MIN(doc_id) AS doc_id FROM scored GROUP BY fp
            )
            SELECT s.doc_id, s.quality, s.lang_guess
            FROM scored s JOIN keepers k ON k.fp = s.fp AND k.doc_id = s.doc_id
            WHERE s.quality >= 0.5 AND s.lang_guess = s.lang
        """)
def _corpus_filter(spark, sf):
    """Combined training-data filter: quality gate + lang-id agreement +
    fingerprint dedup keeper — the one-pass corpus curation query.

    Tokenizes once (``__toks``) and derives every metric from the array:
    one split + one elementwise lower instead of ~7 splits, which halves
    both the codegen'd projection and the steady-state scan cost."""
    d = _t(spark, sf, "documents")
    from pyspark.sql.window import Window

    toked = d.select(
        "doc_id", "lang", "text", T.tokens(F.col("text")).alias("__toks")
    )
    scored = toked.select(
        "doc_id", "lang",
        T.quality_score_t(F.col("__toks"), F.col("text")).alias("quality"),
        T.lang_id_t(F.transform(F.col("__toks"), F.lower)).alias("lang_guess"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    # keeper = min doc_id per fingerprint via window: ONE shuffle and one
    # scoring pass, vs groupBy + semi-join which shuffles twice and computes
    # the scoring projection on both join sides
    keep = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        scored.withColumn("__keep", keep)
        .filter(
            (F.col("doc_id") == F.col("__keep"))
            & (F.col("quality") >= 0.5)
            & (F.col("lang_guess") == F.col("lang"))
        )
        .select("doc_id", "quality", "lang_guess")
    )


@register("bm25_topk", oracle=lambda: f"""
            WITH tk AS (SELECT doc_id AS doc, {_LTOKS} AS toks FROM documents),
            lengths AS (SELECT doc, len(toks) AS dl FROM tk),
            postings AS (
              SELECT token, doc, COUNT(*) AS tf
              FROM (SELECT doc, unnest(toks) AS token FROM tk)
              WHERE token IN ('spark', 'window', 'dup')
              GROUP BY token, doc
            ),
            stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
                      FROM lengths),
            dfreq AS (SELECT token, COUNT(*) AS df FROM postings GROUP BY token),
            scored AS (
              SELECT p.doc,
                     ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                       * (p.tf * (1.2 + 1.0))
                       / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS term_score
              FROM postings p
              JOIN dfreq f USING (token)
              JOIN lengths l USING (doc)
              CROSS JOIN stats s
            )
            SELECT doc AS doc_id, COUNT(*) AS n_terms,
                   ROUND(SUM(term_score), 6) AS score
            FROM scored GROUP BY doc
            ORDER BY score DESC, doc ASC LIMIT 15
        """)
def _bm25_topk(spark, sf):
    """BM25 top-15 for a 3-term query mixing common and rare terms."""
    d = _t(spark, sf, "documents")
    return ranking.bm25_topk(d, "text", "doc_id", ["spark", "window", "dup"], k=15)


@register("compressibility_entropy", oracle="""
            WITH c AS (
              SELECT doc_id,
                     list_transform(range(1, length(text) + 1),
                                    i -> substr(text, i, 1)) AS chars
              FROM documents
              WHERE length(text) > 0
            ), ent AS (
              SELECT doc_id, len(chars) AS n_chars,
                     ROUND(list_sum(list_transform(
                       list_sort(list_distinct(chars)),
                       ch -> -(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
                              / len(chars))
                             * log2(CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE)
                                    / len(chars))
                     )), 6) AS entropy_bits
              FROM c
            )
            SELECT doc_id, CAST(n_chars AS INT) AS n_chars, entropy_bits,
                   entropy_bits / 8.0 AS est_ratio
            FROM ent
        """)
def _compressibility_entropy(spark, sf):
    """Oracle-backed deterministic twin of the rows-only
    `compression_ratio` (zlib deflate): Shannon character entropy as the
    compressibility floor, sequential-fold over sorted distinct chars so
    both engines sum in the same order. Completes the twin discipline —
    every rows-only family now has an oracle-green counterpart."""
    from pgferry_spark.operators.filters import compressibility_entropy

    return compressibility_entropy(_t(spark, sf, "documents"), "text", "doc_id")


def _luhn_sum_sql(s: str) -> str:
    """DuckDB twin of functions.text.luhn_sum over the digit-string
    expression ``s``: index the reversed string with range+substr (RE2
    has no empty-pattern split), double every second digit from the
    right, subtract 9 past 9."""
    dig = f"CAST(substr(reverse({s}), __i, 1) AS INT)"
    return (
        f"list_sum(list_transform(range(1, length({s}) + 1), __i -> "
        f"CASE WHEN (__i - 1) % 2 = 0 THEN {dig} "
        f"ELSE CASE WHEN {dig} * 2 > 9 THEN {dig} * 2 - 9 "
        f"ELSE {dig} * 2 END END))"
    )


# every third document carries a 16-digit card number; even doc_ids get
# a valid Luhn check digit, odd ones an invalid one
def _card_texts_cte() -> str:
    return f"""WITH synth AS (
              SELECT doc_id,
                     '4' || lpad(CAST((doc_id * 7919) % 1000000 AS VARCHAR), 6, '0')
                         || lpad(CAST(doc_id % 100000000 AS VARCHAR), 8, '0') AS base15,
                     text
              FROM documents
            ), carded AS (
              SELECT doc_id, base15,
                     (10 - ({_luhn_sum_sql("base15 || '0'")}) % 10) % 10 AS chk0,
                     text
              FROM synth
            ), built AS (
              SELECT doc_id,
                     base15 || CAST(CASE WHEN doc_id % 2 = 0 THEN chk0
                                         ELSE (chk0 + 5) % 10 END AS VARCHAR) AS card16,
                     text
              FROM carded
            ), withtext AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN text || ' pay ' ||
                               substr(card16, 1, 4) || ' ' || substr(card16, 5, 4) || ' ' ||
                               substr(card16, 9, 4) || ' ' || substr(card16, 13, 4)
                          ELSE text END AS txt
              FROM built
            )"""


@register("pii_luhn_cards", oracle=lambda: f"""
            {_card_texts_cte()}, cands AS (
              SELECT doc_id,
                     list_filter(
                       list_transform(regexp_extract_all(txt, '[0-9][0-9 ]{{11,22}}[0-9]'),
                                      r -> replace(r, ' ', '')),
                       s -> length(s) BETWEEN 13 AND 19) AS cc
              FROM withtext
            )
            SELECT doc_id,
                   len(cc) AS n_candidates,
                   len(list_filter(cc, s -> ({_luhn_sum_sql("s")}) % 10 = 0)) AS n_valid_cards
            FROM cands
        """)
def _pii_luhn_cards(spark, sf):
    """Checksum-validated card detection: deterministic card-shaped
    numbers are synthesized from doc_id on BOTH engines (the fixtures
    contain no digit runs — same attach-deterministic-payload pattern
    as the media entries: every third doc gets a 16-digit number whose
    Luhn check digit is correct only for even doc_ids), then detected
    by the RE2-safe run pattern, separator-stripped, length-gated, and
    Luhn-validated. Map-only JVM expressions end to end."""
    d = _t(spark, sf, "documents")
    d6 = F.lpad(((F.col("doc_id") * 7919) % 1000000).cast("string"), 6, "0")
    d8 = F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0")
    base15 = F.concat(F.lit("4"), d6, d8)
    check = (10 - (T.luhn_sum(F.concat(base15, F.lit("0"))) % 10)) % 10
    chk = F.when(F.col("doc_id") % 2 == 0, check).otherwise((check + 5) % 10)
    card16 = F.concat(base15, chk.cast("string"))
    formatted = F.concat_ws(
        " ",
        F.substring(card16, 1, 4), F.substring(card16, 5, 4),
        F.substring(card16, 9, 4), F.substring(card16, 13, 4),
    )
    txt = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.col("text"), F.lit(" pay "), formatted),
    ).otherwise(F.col("text"))
    cands = T.card_candidates(txt)
    return d.select(
        "doc_id",
        F.size(cands).alias("n_candidates"),
        F.size(F.filter(cands, T.luhn_valid)).alias("n_valid_cards"),
    )


@register("pii_card_gate", oracle=lambda: f"""
            {_card_texts_cte()}, gated AS (
              SELECT doc_id, txt,
                     len(list_filter(
                       list_filter(
                         list_transform(regexp_extract_all(txt, '[0-9][0-9 ]{{11,22}}[0-9]'),
                                        r -> replace(r, ' ', '')),
                         s -> length(s) BETWEEN 13 AND 19),
                       s -> ({_luhn_sum_sql("s")}) % 10 = 0)) AS n_valid_cards
              FROM withtext
            )
            SELECT doc_id, CAST(n_valid_cards AS INT) AS n_valid_cards,
                   CASE WHEN n_valid_cards > 0
                        THEN regexp_replace(txt, '[0-9][0-9 ]{{11,22}}[0-9]', '<CARD>', 'g')
                        ELSE txt END AS text
            FROM gated
        """)
def _pii_card_gate(spark, sf):
    """`curate.pii_card_gate` (map-only Column expressions): same
    deterministic card synthesis as `pii_luhn_cards`, then the redact-mode
    gate — docs carrying a Luhn-valid number get every card-shaped run
    masked."""
    from pgferry_spark.operators.curate import pii_card_gate

    d = _t(spark, sf, "documents")
    d6 = F.lpad(((F.col("doc_id") * 7919) % 1000000).cast("string"), 6, "0")
    d8 = F.lpad((F.col("doc_id") % 100000000).cast("string"), 8, "0")
    base15 = F.concat(F.lit("4"), d6, d8)
    check = (10 - (T.luhn_sum(F.concat(base15, F.lit("0"))) % 10)) % 10
    chk = F.when(F.col("doc_id") % 2 == 0, check).otherwise((check + 5) % 10)
    card16 = F.concat(base15, chk.cast("string"))
    formatted = F.concat_ws(
        " ",
        F.substring(card16, 1, 4), F.substring(card16, 5, 4),
        F.substring(card16, 9, 4), F.substring(card16, 13, 4),
    )
    carded = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" pay "), formatted),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_card_gate(carded, "text", mode="redact").select(
        "doc_id", "n_valid_cards", "text"
    )


@register("repetition_stats", oracle=lambda: f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            g AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(range(0, len(toks) - 1),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
                     END AS bigrams
              FROM tk
            )
            SELECT doc_id, len(toks) AS n_tokens,
                   ROUND(CASE WHEN len(toks) = 0 THEN 0.0
                              ELSE CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                                   / len(toks) END, 6) AS dup_word_frac,
                   ROUND(CASE WHEN len(toks) = 0 THEN NULL
                              ELSE CAST(list_max(list_transform(list_distinct(toks),
                                     x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
                                   / len(toks) END, 6) AS top_word_frac,
                   ROUND(CASE WHEN len(bigrams) = 0 THEN NULL
                              ELSE CAST(list_max(list_transform(list_distinct(bigrams),
                                     x -> len(list_filter(bigrams, y -> y = x)))) AS DOUBLE)
                                   / len(bigrams) END, 6) AS top_bigram_frac
            FROM g
        """)
def _repetition_stats(spark, sf):
    """Gopher-style per-doc repetition stats (map-only, no shuffle)."""
    return filters.repetition_stats(_t(spark, sf, "documents"), "text", "doc_id")


@register("contamination_check", oracle=lambda: f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(toks) < 4 THEN CAST([] AS VARCHAR[])
                          ELSE list_transform(range(0, len(toks) - 3),
                                 i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))
                     END AS shingles
              FROM tk
            ),
            bench AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh
                      WHERE doc_id % 101 = 0),
            corpus AS (SELECT * FROM sh WHERE doc_id % 101 <> 0),
            hits AS (
              SELECT doc_id, COUNT(DISTINCT shingle) AS n_hit_shingles
              FROM (SELECT doc_id, unnest(shingles) AS shingle FROM corpus)
              WHERE shingle IN (SELECT shingle FROM bench)
              GROUP BY doc_id
            ),
            totals AS (SELECT doc_id, len(list_distinct(shingles)) AS n_shingles
                       FROM corpus)
            SELECT h.doc_id, h.n_hit_shingles, t.n_shingles,
                   ROUND(CAST(h.n_hit_shingles AS DOUBLE) / t.n_shingles, 6) AS hit_frac
            FROM hits h JOIN totals t USING (doc_id)
        """)
def _contamination_check(spark, sf):
    """Benchmark contamination: docs sharing any 4-gram with the
    deterministic pseudo-benchmark slice (doc_id % 101 == 0)."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 101 == 0)
    corpus = d.filter(F.col("doc_id") % 101 != 0)
    return filters.contamination_check(corpus, bench, "text", "doc_id", n=4)


@register("stratified_split", oracle="""
            WITH ranked AS (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                                 doc_id ASC) AS rk,
                     COUNT(*) OVER (PARTITION BY lang) AS cnt
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN rk <= CEIL(cnt * 0.8) THEN 'train'
                        WHEN rk <= CEIL(cnt * (0.8 + 0.1)) THEN 'val'
                        ELSE 'test' END AS split
            FROM ranked
        """)
def _stratified_split(spark, sf):
    """Exact per-language stratified train/val/test assignment."""
    from pgferry_spark.operators.curate import stratified_split

    return stratified_split(_t(spark, sf, "documents"), "lang", "doc_id")


@register("token_budget_select", oracle=lambda: f"""
            WITH scored AS (
              SELECT doc_id,
                     ROUND(
                       {_QUALITY}, 4) AS quality,
                     len({_TOKS}) AS n_toks
              FROM documents
            ), c AS (
              SELECT *, SUM(n_toks) OVER (ORDER BY quality DESC, doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM scored
            )
            SELECT doc_id, quality, n_toks FROM c WHERE cum <= 8000
        """)
def _token_budget(spark, sf):
    """Quality-ranked corpus selection to an 8k-token budget (FineWeb-style
    'best docs until the budget is spent'), via the scalable histogram-
    threshold plan instead of a global-order window."""
    from pgferry_spark.operators.curate import select_to_token_budget

    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
        T.token_count(F.col("text")).alias("n_toks"),
    )
    return select_to_token_budget(scored, "quality", "n_toks", "doc_id", 8000)


@register("unigram_logprob", oracle=lambda: f"""
            WITH toks AS (
              SELECT doc_id, unnest({_LTOKS}) AS token FROM documents
            ),
            vocab AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT SUM(cnt) AS total FROM vocab)
            SELECT t.doc_id, COUNT(*) AS n_tokens,
                   ROUND(AVG(ln(CAST(v.cnt AS DOUBLE) / total.total)), 6) AS logprob
            FROM toks t JOIN vocab v USING (token) CROSS JOIN total
            GROUP BY t.doc_id
        """)
def _unigram_logprob(spark, sf):
    """CCNet-style unigram LM quality score over the document corpus."""
    return filters.unigram_logprob_scores(_t(spark, sf, "documents"), "text", "doc_id")


@register("quality_classifier")
def _quality_classifier(spark, sf):
    """fastText-style quality classifier: weak labels from the heuristic
    quality score train a hashed-BoW logistic model; the whole corpus is
    scored map-only against the broadcast coefficients. Rows-only (LBFGS
    floats are iteration-order sensitive); semantics pinned by
    tests/test_classify.py's heuristic-agreement check."""
    from pgferry_spark.operators.classify import (
        score_quality, train_quality_classifier,
    )

    d = _t(spark, sf, "documents")
    weak = d.select(
        "doc_id", "text",
        # 0.8 ~ corpus median: balanced classes (0.5 is degenerate here —
        # every synthetic doc clears it and LBFGS learns zero coefficients)
        (T.quality_score(F.col("text")) >= 0.8).cast("double").alias("label"),
    )
    # train on a bounded md5-ordered sample (the documented production
    # posture: training is sample-bound, SCORING is the corpus-scale part)
    train = weak.orderBy(F.md5(F.col("doc_id").cast("string"))).limit(2000)
    model = train_quality_classifier(train, "text", "label")
    return score_quality(model, d, "text", "doc_id")


@register("mixture_epochs", oracle="""
            WITH ep AS (
              SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 2.4 WHEN 'src1' THEN 0.5
                                 WHEN 'src2' THEN 1.0 ELSE 0.0 END AS e,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                       % 1000000 AS hfrac
              FROM documents
            ),
            n AS (
              SELECT doc_id, source,
                     CAST(floor(e) AS INT)
                     + (CASE WHEN hfrac / 1000000.0 < e - floor(e)
                             THEN 1 ELSE 0 END) AS n_copies
              FROM ep
            )
            SELECT doc_id, source, CAST(unnest(range(n_copies)) AS INT) AS copy_idx
            FROM n WHERE n_copies > 0
        """)
def _mixture_epochs(spark, sf):
    """Fractional-epoch source repetition (LLaMA-style mixture knob):
    src0 × 2.4 epochs, src1 × 0.5, src2 × 1.0 — floor copies for
    everyone plus an md5-selected extra-copy cohort sized to the
    fraction. Map-only sequence-explode; the epoch map is a literal."""
    from pgferry_spark.operators.curate import mixture_epochs

    d = _t(spark, sf, "documents")
    out = mixture_epochs(
        d, "source", "doc_id", {"src0": 2.4, "src1": 0.5, "src2": 1.0}
    )
    return out.select("doc_id", "source", "copy_idx")


@register("boilerplate_ngrams", oracle=lambda: f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            gr AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS grams
              FROM tk
            ),
            ex AS (SELECT doc_id, unnest(grams) AS ngram FROM gr),
            cnt AS (SELECT ngram, COUNT(*) AS doc_freq FROM ex GROUP BY 1),
            top AS (
              SELECT ngram, doc_freq FROM cnt WHERE doc_freq >= 2
              ORDER BY doc_freq DESC, ngram ASC LIMIT 50
            ),
            tot AS (SELECT COUNT(*) AS nd FROM documents)
            SELECT ngram, doc_freq,
                   ROUND(CAST(doc_freq AS DOUBLE) / nd, 6) AS doc_share
            FROM top, tot
        """)
def _boilerplate_ngrams(spark, sf):
    """Corpus boilerplate profiler: top-50 3-grams by document frequency
    (doc_freq >= 2) with corpus share — the diagnostic that finds the
    repeated phrases (headers, templates, licenses) that inflate LSH
    buckets and leak across splits. Deterministic (doc_freq desc, ngram
    asc) tie-break; one gram-keyed aggregate."""
    from pgferry_spark.functions.text import ngram_topk

    d = _t(spark, sf, "documents")
    return ngram_topk(d, "text", "doc_id", n=3, k=50, min_doc_freq=2)


def _weak_labels(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", "text",
        # 0.8 ~ corpus median -> balanced weak labels at every test SF
        (T.quality_score(F.col("text")) >= 0.8).cast("int").alias("label"),
    )


@register("quality_twin_auc", oracle=lambda: f"""
            WITH lab AS (
              SELECT doc_id, text,
                     CASE WHEN ROUND(
                       {_QUALITY}, 4) >= 0.8
                     THEN 1 ELSE 0 END AS label
              FROM documents
            ),
            tok AS (
              SELECT doc_id, unnest({_LTOKS}) AS tok
              FROM lab
            ),
            bk AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 14))::BIGINT % 4096 AS b
              FROM tok
            ),
            cnt AS (
              SELECT bk.b, SUM(l.label) AS pos, SUM(1 - l.label) AS neg
              FROM bk JOIN lab l USING (doc_id) GROUP BY bk.b
            ),
            tot AS (SELECT SUM(pos) AS p, SUM(neg) AS n FROM cnt),
            w AS (
              SELECT b,
                     CAST(ROUND((ln((pos + 1.0) / (p + 4096.0))
                               - ln((neg + 1.0) / (n + 4096.0))) * 1e6) AS BIGINT) AS w
              FROM cnt, tot
            ),
            ds AS (
              SELECT bk.doc_id, SUM(w.w) AS sm
              FROM bk JOIN w USING (b) GROUP BY bk.doc_id
            ),
            sc AS (
              SELECT l.doc_id, COALESCE(ds.sm, 0) AS score_micro, l.label
              FROM lab l LEFT JOIN ds USING (doc_id)
            ),
            agg AS (
              SELECT score_micro AS s, SUM(label) AS np, COUNT(*) AS nt
              FROM sc GROUP BY 1
            ),
            rk AS (
              SELECT s, np, nt,
                     COALESCE(SUM(nt) OVER (ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              FROM agg
            ),
            st AS (
              SELECT SUM(np * (cum + (nt + 1) / 2.0)) AS rank_sum,
                     SUM(np) AS npos, SUM(nt - np) AS nneg
              FROM rk
            )
            SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
                   ROUND((rank_sum - npos * (npos + 1) / 2.0)
                         / (npos * nneg), 6) AS auc
            FROM st
        """)
def _quality_twin_auc(spark, sf):
    """ROC-AUC scorecard of the DETERMINISTIC hashed-BoW log-odds twin
    (md5 buckets, Laplace-smoothed NB weights in integer micro-units)
    against the weak heuristic labels — fully oracle-replayable, the
    quantitative yardstick the float-bound LBFGS row is compared to
    (`quality_classifier_auc`)."""
    from pgferry_spark.operators.classify import (
        auc_scorecard, hashed_log_odds_scores,
    )

    labeled = _weak_labels(spark, sf)
    scores = hashed_log_odds_scores(
        labeled, labeled, "text", "doc_id", "label"
    )
    joined = scores.join(labeled.select("doc_id", "label"), "doc_id")
    return auc_scorecard(joined, "score_micro", "label")


@register("quality_classifier_auc")
def _quality_classifier_auc(spark, sf):
    """ROC-AUC scorecard of the LBFGS hashed-BoW classifier's prob_good
    against the weak heuristic labels — the measured-quality row for the
    rows-only `quality_classifier` (LBFGS floats), mirroring the IVFADC
    `ann_recall_*` pattern. Compare to `quality_twin_auc` (deterministic
    twin, oracle-green) for the quantitative gap."""
    from pgferry_spark.operators.classify import (
        auc_scorecard, score_quality, train_quality_classifier,
    )

    labeled = _weak_labels(spark, sf)
    train = (
        labeled.withColumn("label", F.col("label").cast("double"))
        .orderBy(F.md5(F.col("doc_id").cast("string")))
        .limit(2000)
    )
    model = train_quality_classifier(train, "text", "label")
    scored = score_quality(model, labeled, "text", "doc_id")
    joined = scored.join(labeled.select("doc_id", "label"), "doc_id")
    return auc_scorecard(joined, "prob_good", "label")


def _bigram_logprob_sql() -> str:
    """Shared bigram-LM CTE chain (through the per-position ``scored``
    relation) — the bigram_logprob entry closes it with the per-doc
    aggregate; ccnet_buckets layers the tier arithmetic on top."""
    return f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            uni AS (
              SELECT token, COUNT(*) AS cnt_u
              FROM (SELECT unnest(toks) AS token FROM tk) GROUP BY token
            ),
            tot AS (SELECT SUM(cnt_u) AS total FROM uni),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(len(toks) - 1),
                                           i -> [toks[i + 1], toks[i + 2]])) AS pair
              FROM tk WHERE len(toks) >= 2
            ),
            bgc AS (SELECT pair, COUNT(*) AS cnt_b FROM bg GROUP BY pair),
            scored AS (
              SELECT bg.doc_id,
                     ln(0.75 * CAST(c.cnt_b AS DOUBLE) / up.cnt_u
                        + 0.25 * CAST(uc.cnt_u AS DOUBLE) / tot.total) AS lp
              FROM bg
              JOIN bgc c USING (pair)
              JOIN uni up ON up.token = bg.pair[1]
              JOIN uni uc ON uc.token = bg.pair[2]
              CROSS JOIN tot
            )
    """


# λ = 0.75 on purpose: 0.75/0.25 are exact binary doubles, so the
# SQL literals equal the Spark plan's literals bit-for-bit
@register("bigram_logprob", oracle=lambda: _bigram_logprob_sql()
        + """
            SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(AVG(lp), 6) AS logprob
            FROM scored GROUP BY doc_id
        """)
def _bigram_logprob(spark, sf):
    """Interpolated bigram LM score (λ=0.75): one tokenize pass, lag-window
    bigrams, natural-key vocab aggregates — the perplexity-filter rung
    above the unigram model."""
    return filters.bigram_logprob_scores(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


# within-doc repeat synthesis for the line-repetition entry: every third
# document re-renders its first extracted line at the end (the
# nav/footer-every-screenful shape Gopher's dup-line signals exist
# for).  Shared verbatim by both engines; first-line extraction via
# regexp (the two engines' array indexing differs, their regex does
# not), newline spelled chr(10).
LINE_REP_SYNTH_SQL = (
    "CASE WHEN doc_id % 3 = 0 AND clean_text <> '' THEN"
    " clean_text || chr(10) ||"
    " regexp_extract(clean_text, '^[^' || chr(10) || ']*', 0)"
    " ELSE clean_text END"
)


def _line_repetition_oracle() -> str:
    """The shared extraction CTE + the repeat synthesis + the same
    count arithmetic: per (doc, line) occurrence counts, then
    sum(c-1)/sum(c) and the char-weighted twin.  length() (character
    semantics) on both engines — strlen would count BYTES and diverge
    on the decoded punctuation."""
    return _html_cte() + f"""
        , rp AS (SELECT doc_id, {LINE_REP_SYNTH_SQL} AS rep_text FROM x),
        l AS (SELECT doc_id,
                unnest(string_split(rep_text, chr(10))) AS __l
              FROM rp),
        nb AS (SELECT doc_id, __l FROM l WHERE trim(__l) <> ''),
        pl AS (SELECT doc_id, __l, count(*) AS c FROM nb
               GROUP BY doc_id, __l)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
               ROUND(CAST(sum(c - 1) AS DOUBLE) / sum(c), 6)
                 AS dup_line_frac,
               ROUND(CAST(sum((c - 1) * length(__l)) AS DOUBLE)
                     / sum(c * length(__l)), 6) AS dup_line_char_frac
        FROM pl GROUP BY doc_id
    """


@register("line_repetition", oracle=_line_repetition_oracle)
def _line_repetition(spark, sf):
    """Gopher within-doc duplicate-line signals (the
    repetition-table complement of repetition_stats' word/bigram
    fractions and of corpus-wide line_dedup): dup_line_frac +
    dup_line_char_frac per document over the extracted HTML corpus,
    with every third doc re-rendering its first line so the signal is
    genuinely non-zero.  Two doc-keyed shuffles, partition sizes
    bounded by document length."""
    from pgferry_spark.operators.html import attach_html, html_extract

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    rep = html_extract(attach_html(d)).withColumn(
        "rep_text", F.expr(LINE_REP_SYNTH_SQL)
    )
    return filters.line_repetition_stats(rep, "rep_text", "doc_id")


def _kn_trigram_sql() -> str:
    """Shared interpolated-Kneser–Ney trigram chain (through the
    per-position ``scored`` relation) — the ngram_perplexity entry
    closes it with the per-doc aggregate; ccnet_buckets layers the
    tier arithmetic on top.  Every model table is an exact-integer
    aggregate of the trigram TYPE table (continuation counts =
    COUNT(*) over type rows), and the probability expression is
    spelled in the same operation order as the Spark plan — discount
    0.75 is an exact binary double, so the literals agree bit-for-bit
    (the bigram chain's rationale)."""
    return f"""
            WITH tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            tp AS (
              SELECT doc_id,
                     unnest(toks[1:len(toks) - 2]) AS u,
                     unnest(toks[2:len(toks) - 1]) AS v,
                     unnest(toks[3:len(toks)]) AS w
              FROM tk WHERE len(toks) >= 3
            ),
            tri AS (SELECT u, v, w, COUNT(*) AS c3
                    FROM tp GROUP BY u, v, w),
            ctx3 AS (SELECT u, v, SUM(c3) AS c_ctx, COUNT(*) AS n1p_uv
                     FROM tri GROUP BY u, v),
            cont2 AS (SELECT v, w, COUNT(*) AS cont_vw
                      FROM tri GROUP BY v, w),
            ctx2 AS (SELECT v, SUM(cont_vw) AS ctx_v, COUNT(*) AS nt_v
                     FROM cont2 GROUP BY v),
            cont1 AS (SELECT w, COUNT(*) AS cont_w FROM cont2 GROUP BY w),
            tot AS (SELECT COUNT(*) AS total_vw FROM cont2),
            scored AS (
              SELECT tp.doc_id,
                     ln(greatest(CAST(t.c3 AS DOUBLE) - 0.75, 0.0)
                          / x3.c_ctx
                        + 0.75 * x3.n1p_uv / x3.c_ctx
                          * (greatest(CAST(c2.cont_vw AS DOUBLE) - 0.75,
                                      0.0) / x2.ctx_v
                             + 0.75 * x2.nt_v / x2.ctx_v
                               * (CAST(c1.cont_w AS DOUBLE)
                                  / tot.total_vw))) AS lp
              FROM tp
              JOIN tri t USING (u, v, w)
              JOIN ctx3 x3 USING (u, v)
              JOIN cont2 c2 USING (v, w)
              JOIN ctx2 x2 USING (v)
              JOIN cont1 c1 USING (w)
              CROSS JOIN tot
            )
    """


def _ccnet_buckets_oracle() -> str:
    """Tier replay over the KN trigram chain: the
    shared KN chain → per-doc score + lang → distinct (lang, score)
    classes → strictly-higher cumulative count → the 3·n_gt < n
    integer tier rule.  The class window ranks distinct classes (no
    ties in its ordering by construction), mirroring the Spark side
    exactly."""
    return _kn_trigram_sql() + """
            , sc AS (
              SELECT s.doc_id, d.lang, s.logprob
              FROM (SELECT doc_id, ROUND(AVG(lp), 6) + 0.0 AS logprob
                    FROM scored GROUP BY doc_id) s
              JOIN documents d USING (doc_id)
            ),
            cls AS (SELECT lang, logprob, COUNT(*) AS c
                    FROM sc GROUP BY lang, logprob),
            cw AS (SELECT lang, logprob,
                     SUM(c) OVER (PARTITION BY lang ORDER BY logprob DESC
                                  ROWS UNBOUNDED PRECEDING) - c AS gt,
                     SUM(c) OVER (PARTITION BY lang) AS n
                   FROM cls)
            SELECT sc.doc_id, sc.lang, sc.logprob,
                   CASE WHEN cw.gt * 3 < cw.n THEN 'head'
                        WHEN cw.gt * 3 < cw.n * 2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc JOIN cw USING (lang, logprob)
    """


@register("ccnet_buckets", oracle=_ccnet_buckets_oracle)
def _ccnet_buckets(spark, sf):
    """CCNet perplexity tiers: per
    language, head/middle/tail thirds by interpolated Kneser–Ney
    trigram LM score (the CCNet-published scorer class — Wenzek et al.
    2020 §4.2) — the CommonCrawl
    quality-mixture stage.  Bucketing is by distinct (lang, score)
    CLASS with integer tier arithmetic (3*n_gt < n), so ties never
    straddle a boundary and the class window ranks the bounded class
    table, never documents."""
    return filters.ccnet_buckets(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


def _ngram_perplexity_oracle() -> str:
    """Per-doc close of the shared KN chain: logprob = round(avg, 6)
    (+0.0 folds a boundary −0.0), perplexity = round(exp(−rounded), 6)
    — exp of the ROUNDED mean on both engines, so the only float
    hazard is the one the 6dp edge round absorbs."""
    return _kn_trigram_sql() + """
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
                   ROUND(AVG(lp), 6) + 0.0 AS logprob,
                   ROUND(exp(-(ROUND(AVG(lp), 6) + 0.0)), 6)
                     AS perplexity
            FROM scored GROUP BY doc_id
    """


@register("ngram_perplexity", oracle=_ngram_perplexity_oracle)
def _ngram_perplexity(spark, sf):
    """Interpolated Kneser–Ney trigram LM perplexity: per document, avg ln p₃ and exp(−avg) over the
    corpus-trained KN model — continuation counts, absolute discount
    D=0.75 (exact binary double), every model table an exact-integer
    aggregate of the trigram TYPE table so the float formula replays
    closed-form in SQL.  One tokenize pass, two lags on one (doc, pos)
    window, natural-key model aggregates, token-keyed join-backs."""
    return filters.kn_trigram_logprob_scores(
        _t(spark, sf, "documents"), "text", "doc_id"
    )


@register("length_outliers", oracle="""
            WITH bounds AS (
              SELECT lang,
                     quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS lo_bound,
                     quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS hi_bound
              FROM documents GROUP BY lang
            )
            SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
                   ROUND(b.lo_bound, 6) AS lo_bound, ROUND(b.hi_bound, 6) AS hi_bound
            FROM documents d JOIN bounds b USING (lang)
            WHERE CAST(d.n_chars AS DOUBLE) < b.lo_bound
               OR CAST(d.n_chars AS DOUBLE) > b.hi_bound
        """)
def _length_outliers(spark, sf):
    """Per-language exact-percentile length outliers (docs a curation
    pass would drop)."""
    return filters.length_outlier_filter(
        _t(spark, sf, "documents"), "lang", "n_chars", "doc_id"
    )


_PII_EMAIL, _PII_IPV4, _PII_PHONE = T.PII_EMAIL, T.PII_IPV4, T.PII_PHONE


@register("pii_scrub", oracle=lambda: f"""
            WITH s1 AS (
              SELECT doc_id, text,
                     len(regexp_extract_all(text, '{_PII_EMAIL}')) AS c1,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
              FROM documents
            ),
            s2 AS (
              SELECT doc_id, c1,
                     len(regexp_extract_all(t1, '{_PII_IPV4}')) AS c2,
                     regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed,
                   CAST(c1 + c2 + len(regexp_extract_all(t2, '{_PII_PHONE}')) AS INTEGER) AS n_pii
            FROM s2
        """)
def _pii_scrub(spark, sf):
    """PII redaction pass: emails/IPv4/phones → typed placeholders, with a
    per-doc redaction count. Map-only regexp chain."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.pii_scrub(F.col("text")).alias("scrubbed"),
        T.pii_count(F.col("text")).cast("int").alias("n_pii"),
    )


@register("dataset_split", oracle="""
            SELECT doc_id,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                  FROM documents)
        """)
def _dataset_split(spark, sf):
    """Deterministic 80/10/10 train/val/test assignment by md5-bucketed id
    (portable across engines; no RNG state)."""
    from pgferry_spark.operators.curate import dataset_split

    d = _t(spark, sf, "documents")
    return dataset_split(d, "doc_id").select("doc_id", "split")


@register("quota_sample", oracle="""
            SELECT doc_id, lang, n_chars
            FROM (SELECT doc_id, lang, n_chars,
                         ROW_NUMBER() OVER (PARTITION BY lang
                                            ORDER BY n_chars DESC, doc_id ASC) AS rk
                  FROM documents)
            WHERE rk <= 20
        """)
def _quota_sample(spark, sf):
    """Per-language quota sampling: top 20 docs per lang by length (doc_id
    tie-break) — corpus balance control."""
    from pgferry_spark.operators.curate import quota_sample

    d = _t(spark, sf, "documents")
    return quota_sample(
        d.select("doc_id", "lang", "n_chars"), "lang", "n_chars", "doc_id", 20
    )


@register("pack_sequences", oracle=lambda: f"""
            WITH toked AS (
              SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents
            )
            SELECT doc_id, lang, n_tokens,
                   CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                          PARTITION BY lang ORDER BY doc_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ), 0) / 2048.0) AS BIGINT) AS bin_id
            FROM toked
        """)
def _pack_sequences(spark, sf):
    """Token-budget sequence packing: per-language shards, 2048-token bins,
    one window cumulative sum."""
    from pgferry_spark.operators.curate import pack_sequences

    d = _t(spark, sf, "documents")
    toked = d.select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(toked, "doc_id", "n_tokens", 2048, shard_col="lang")


@register("packing_efficiency", oracle=lambda: f"""
            WITH toked AS (
              SELECT doc_id, lang, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
              FROM documents
            ), packed AS (
              SELECT lang, n_tokens,
                     CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                            PARTITION BY lang ORDER BY doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ), 0) / 2048.0) AS BIGINT) AS bin_id
              FROM toked
            ), per_bin AS (
              SELECT lang, bin_id, SUM(n_tokens) AS t
              FROM packed GROUP BY lang, bin_id
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
                   CAST(SUM(t) AS BIGINT) AS total_tokens,
                   ROUND(CAST(SUM(t) AS DOUBLE) / (COUNT(*) * 2048.0), 6) AS mean_fill,
                   CAST(SUM(CASE WHEN t > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_bins,
                   CAST(SUM(CASE WHEN t < 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_underfull_bins
            FROM per_bin
        """)
def _packing_efficiency(spark, sf):
    """One-row packing scorecard over pack_sequences' bins: bin count,
    token total, mean fill ratio against the 2048 budget, and the
    overflow (oversized single doc) / underfull (trailing bin per shard)
    tails. All-integer aggregation with ONE final division, so the
    result is reduction-order independent."""
    packed = _pack_sequences(spark, sf)
    per_bin = packed.groupBy("lang", "bin_id").agg(
        F.sum("n_tokens").alias("t")
    )
    return per_bin.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.round(
            F.sum("t").cast("double") / (F.count(F.lit(1)) * 2048.0), 6
        ).alias("mean_fill"),
        F.sum((F.col("t") > 2048).cast("long")).alias("n_overflow_bins"),
        F.sum((F.col("t") < 2048).cast("long")).alias("n_underfull_bins"),
    )


@register("vocab_topk", oracle=lambda: f"""
            WITH toks AS (
              SELECT unnest({_LTOKS}) AS token FROM documents
            ),
            counts AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
            total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM counts),
            topk AS (
              SELECT token, cnt,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS INTEGER)
                       AS rank
              FROM counts ORDER BY cnt DESC, token ASC LIMIT 100
            )
            SELECT rank, token, CAST(cnt AS BIGINT) AS cnt,
                   ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ASC) AS DOUBLE)
                         / total, 6) AS cum_share
            FROM topk, total
        """)
def _vocab_topk(spark, sf):
    """Corpus vocabulary heavy hitters with cumulative coverage share (the
    first report a tokenizer/vocab build runs on a new corpus)."""
    d = _t(spark, sf, "documents")
    return T.vocab_topk(d, "text", "doc_id", k=100)


@register("mixture_sample", oracle="""
            WITH quotas(source, quota) AS (
              VALUES ('src0', 24), ('src1', 18), ('src2', 12), ('src3', 6)
            ),
            ranked AS (
              SELECT doc_id, source,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                     ) AS INTEGER) AS sample_rank
              FROM documents
            )
            SELECT doc_id, r.source, sample_rank
            FROM ranked r JOIN quotas q ON q.source = r.source
            WHERE sample_rank <= q.quota
        """)
def _mixture_sample(spark, sf):
    """Deterministic training-data mixing: draw a fixed quota per source in
    md5-of-id order — 40% src0 / 30% src1 / 20% src2 / 10% src3 of a
    60-doc mixture. Pure function of the data; no RNG state."""
    from pgferry_spark.operators.curate import mixture_sample

    d = _t(spark, sf, "documents")
    out = mixture_sample(
        d, "source", "doc_id",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        total=60,
    )
    return out.select("doc_id", "source", "sample_rank")


@register("shard_manifest", oracle=lambda: f"""
            WITH assigned AS (
              SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                       AS shard,
                     len({_TOKS}) AS n_tokens,
                     length(text) AS n_bytes
              FROM documents
            )
            SELECT CAST(shard AS INTEGER) AS shard,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens,
                   CAST(sum(n_bytes) AS BIGINT) AS bytes
            FROM assigned GROUP BY shard
        """)
def _shard_manifest(spark, sf):
    """Training-shard audit manifest: per-md5-shard doc/token/byte totals —
    the accounting artifact a shard write ships with."""
    from pgferry_spark.operators.curate import shard_manifest

    d = _t(spark, sf, "documents")
    return shard_manifest(d, "doc_id", "text", n_shards=8)


@register("tfidf_pairs", oracle=lambda: f"""
            WITH tf AS (
              SELECT id, token, CAST(count(*) AS DOUBLE) AS tf
              FROM (SELECT doc_id AS id, unnest({_LTOKS}) AS token FROM documents)
              WHERE token <> '' GROUP BY id, token
            ),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
            dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            w AS (
              SELECT id, token, tf * ln(nn.n / df) AS w
              FROM tf JOIN dfreq USING (token) CROSS JOIN nn
            ),
            norms AS (SELECT id, sqrt(sum(w * w)) AS norm FROM w GROUP BY id),
            posts AS (
              SELECT w.id, token, w.w, norms.norm
              FROM w JOIN norms USING (id) WHERE norm > 0
            ),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, a.norm AS na, b.norm AS nb,
                     sum(a.w * b.w) AS dot
              FROM posts a JOIN posts b ON a.token = b.token AND a.id < b.id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b, ROUND(dot / (na * nb), 4) AS cosine_sim
            FROM pairs WHERE ROUND(dot / (na * nb), 4) >= 0.9
        """)
def _tfidf_pairs(spark, sf):
    """All-pairs TF-IDF cosine similarity join at >= 0.9 — term-weighted
    lexical overlap, token-blocked (never corpus-quadratic)."""
    from pgferry_spark.operators.ranking import tfidf_similarity_pairs

    d = _t(spark, sf, "documents")
    return tfidf_similarity_pairs(d, "text", "doc_id", threshold=0.9)


# documents with emails, IPv4 addresses and phone numbers masked in that
# order, as functions.text.pii_scrub does
_PII_SCRUBBED = f"""WITH s1 AS (
              SELECT doc_id,
                     regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
              FROM documents
            ),
            s2 AS (SELECT doc_id, regexp_replace(t, '{_PII_IPV4}', '<IP>', 'g') AS t FROM s1),
            s3 AS (SELECT doc_id, regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS text FROM s2)"""


@register("curate_corpus", oracle=lambda: f"""
            {_PII_SCRUBBED},
            scored AS (
              SELECT doc_id, text,
                     ROUND(
                       {_QUALITY}, 4) AS quality
              FROM s3
            ),
            gated AS (SELECT * FROM scored WHERE quality >= 0.3),
            ranked AS (
              SELECT doc_id, quality,
                     min(doc_id) OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                     ) AS keeper
              FROM gated
            ),
            kept AS (
              SELECT doc_id, quality,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM ranked WHERE doc_id = keeper
            )
            SELECT doc_id, quality,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                        AS INTEGER) AS shard
            FROM kept
        """)
def _curate_corpus(spark, sf):
    """Full curation DAG (scrub → quality gate → fingerprint dedup →
    split → shard) — one wide shuffle total, everything else fused map
    work. Returns the training-ready assignment table. fan_out first
    (same single-file parallelism floor as _curate_corpus_best)."""
    from pgferry_spark.operators.curate import curate_corpus

    d = fan_out(_t(spark, sf, "documents"), "doc_id").select("doc_id", "text")
    out = curate_corpus(d, "text", "doc_id", min_quality=0.3)
    return out.select("doc_id", "quality", "split", "shard")


@register("curate_corpus_best", oracle=lambda: f"""
            {_PII_SCRUBBED},
            scored AS (
              SELECT doc_id, text,
                     ROUND(
                       {_QUALITY}, 4) AS quality
              FROM s3
            ),
            gated AS (SELECT * FROM scored WHERE quality >= 0.3),
            ranked AS (
              SELECT doc_id, quality,
                     row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       ORDER BY quality DESC, doc_id ASC
                     ) AS rnk
              FROM gated
            ),
            kept AS (
              SELECT doc_id, quality,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM ranked WHERE rnk = 1
            )
            SELECT doc_id, quality,
                   CASE WHEN b < 80 THEN 'train'
                        WHEN b < 90 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                        AS INTEGER) AS shard
            FROM kept
        """)
def _curate_corpus_best(spark, sf):
    """curate_corpus with the quality-aware keeper: per fingerprint group
    the HIGHEST-quality row survives (ties to min id) instead of min-id —
    same single wide shuffle, keeper semantics from dedup.keep_best.
    fan_out first: the regex-heavy scrub/quality stages run BEFORE the
    dedup shuffle, so on a single-file scan they would serialize onto one
    core (measured 11.9x at the 10x sf1 slope test; linear after)."""
    from pgferry_spark.operators.curate import curate_corpus

    d = fan_out(_t(spark, sf, "documents"), "doc_id").select("doc_id", "text")
    out = curate_corpus(d, "text", "doc_id", min_quality=0.3, keeper="best")
    return out.select("doc_id", "quality", "split", "shard")


@register("corpus_report", oracle=lambda: f"""
            SELECT CAST(count(*) AS BIGINT) AS docs,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS tokens,
                   CAST(SUM(length(text)) AS BIGINT) AS chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                   ROUND(1.0 - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                               / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
                   ROUND(AVG(ROUND(
                       {_QUALITY}, 4)), 6)
                     AS mean_quality
            FROM documents
        """)
def _corpus_report(spark, sf):
    """One-row dataset datasheet: doc/token/char totals, language and
    source breadth, duplication rate, mean quality — the summary table a
    corpus release ships with. One scan, one global aggregate."""
    d = _t(spark, sf, "documents")
    toks = T.tokens(F.col("text"))
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
    return d.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(toks).cast("bigint")).alias("tokens"),
        F.sum(F.length("text").cast("bigint")).alias("chars"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
        F.count_distinct(F.col("source")).alias("n_sources"),
        F.round(
            1.0 - F.count_distinct(fp) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
        F.round(F.avg(T.quality_score(F.col("text"))), 6).alias("mean_quality"),
    )


@register("token_histogram", oracle=lambda: f"""
            SELECT CAST(FLOOR(len({_TOKS}) / 10) * 10 AS INTEGER) AS bucket_lo,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY bucket_lo
        """)
def _token_histogram(spark, sf):
    """Token-count distribution in width-10 buckets — the length histogram
    behind packing/outlier decisions. Map-side bucketing, one tiny agg."""
    d = _t(spark, sf, "documents")
    bucket = (F.floor(F.size(T.tokens(F.col("text"))) / 10) * 10).cast("int")
    return (
        d.groupBy(bucket.alias("bucket_lo"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register("weighted_sample", oracle="""
            SELECT doc_id, n_chars,
                   ROUND(pow(
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                       / 4503599627370496.0,
                     1.0 / CAST(n_chars AS DOUBLE)), 10) AS sample_key
            FROM documents WHERE n_chars > 0
            ORDER BY sample_key DESC, doc_id ASC
            LIMIT 50
        """)
def _weighted_sample(spark, sf):
    """Efraimidis–Spirakis weighted sampling with a hashed uniform: top-50
    docs by u^(1/n_chars) — weight-proportional inclusion, zero RNG state,
    TakeOrdered plan (no global sort)."""
    from pgferry_spark.operators.curate import weighted_sample

    d = _t(spark, sf, "documents")
    return weighted_sample(d, "doc_id", "n_chars", n=50).select(
        "doc_id", "n_chars", "sample_key"
    )


@register("temperature_sample", oracle="""
            WITH cnt AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
            q AS (
              SELECT lang,
                     CAST(FLOOR(200.0 * pow(CAST(c AS DOUBLE), 0.5)
                                / SUM(pow(CAST(c AS DOUBLE), 0.5)) OVER ()) AS INTEGER)
                       AS quota
              FROM cnt
            ),
            ranked AS (
              SELECT doc_id, lang,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                     ) AS INTEGER) AS sample_rank
              FROM documents
            )
            SELECT doc_id, r.lang, sample_rank
            FROM ranked r JOIN q ON q.lang = r.lang
            WHERE sample_rank <= q.quota
        """)
def _temperature_sample(spark, sf):
    """UNIMAX-style temperature rebalancing: per-lang quota ∝ count^0.5,
    drawn in md5 order — up-samples low-resource languages. Quotas derive
    from the data (no driver collect); one tiny aggregate + broadcast."""
    from pgferry_spark.operators.curate import temperature_sample

    d = _t(spark, sf, "documents")
    out = temperature_sample(d, "lang", "doc_id", alpha=0.5, total=200)
    return out.select("doc_id", "lang", "sample_rank")


@register("chunk_documents", oracle=r"""
            WITH toks AS (
              SELECT doc_id, str_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE trim(text) <> ''
            ),
            base AS (
              SELECT doc_id, t,
                     unnest(range(greatest(
                       CAST(ceil((len(t) - 16) / 48.0) AS BIGINT), 1))) AS i
              FROM toks
            )
            SELECT doc_id, CAST(i AS INT) AS chunk_idx,
                   array_to_string(t[i*48+1 : i*48+64], ' ') AS chunk_text,
                   CAST(len(t[i*48+1 : i*48+64]) AS INT) AS n_tokens
            FROM base
        """)
def _chunk_documents(spark, sf):
    """Sliding-window chunking (64-token windows, 16-token overlap) — the
    RAG/long-context prep pass; map-only, zero shuffle."""
    d = _t(spark, sf, "documents")
    return T.chunk_documents(d, "text", "doc_id", max_tokens=64, overlap=16)


def _bpe_merges_oracle(
    n_merges: int = 50, max_words: int = 10_000, mode: str = "merges"
) -> str:
    """Unrolled-BPE oracle (the MMR trick applied to Sennrich et al.
    merge learning): each greedy step becomes one chained trio of
    MATERIALIZED CTEs — pair counts (explode adjacent symbol pairs),
    argmax (count desc, then lexicographic pair), and merge application.

    The vocab state is a symbol sequence encoded as a single string with
    every symbol wrapped in chr(31) unit separators
    (``\\x1f sym \\x1f``), so applying merge (l, r) is one
    ``replace(s, \\x1f l \\x1f\\x1f r \\x1f, \\x1f lr \\x1f)`` — DuckDB's
    replace scans left-to-right and continues AFTER each replacement,
    which is exactly the BPE within-word merge order (verified for the
    overlapping 'a a a a' case). The per-symbol wrapping (boundaries are
    DOUBLE separators) is what makes consecutive merges like (a,a) on
    'aaaa' land twice in one pass; a single-separator encoding consumes
    the shared boundary and under-merges. chr(31) never appears in the
    fixtures' whitespace-split tokens.

    ``mode="encode"`` additionally REPLAYS the learned merges over every
    distinct corpus word (sequential-by-rank global replace — equivalent
    to the UDF's priority encode because a learned merge's operand
    symbols can only be created by EARLIER merges, so a later merge can
    never retro-enable an earlier one) and returns per-document subword
    counts instead of the merge table."""
    sep = chr(31)
    parts = [
        f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
        wf AS MATERIALIZED (
          SELECT w, COUNT(*) AS cnt FROM toks
          WHERE w IS NOT NULL AND w <> ''
          GROUP BY w ORDER BY cnt DESC, w ASC LIMIT {max_words}
        ),
        vocab0 AS MATERIALIZED (
          SELECT '{sep}' || array_to_string(
                   list_append(list_transform(range(1, length(w) + 1),
                                              i -> substr(w, i, 1)), '</w>'),
                   '{sep}{sep}') || '{sep}' AS s,
                 cnt
          FROM wf
        )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
        pairs{i} AS MATERIALIZED (
          SELECT pr[1] AS l, pr[2] AS r, SUM(cnt) AS c
          FROM (
            SELECT unnest(list_transform(range(1, len(syms)),
                                         j -> [syms[j], syms[j + 1]])) AS pr,
                   cnt
            FROM (SELECT str_split(trim(s, '{sep}'), '{sep}{sep}') AS syms, cnt
                  FROM vocab{i - 1})
          )
          GROUP BY l, r
        ),
        best{i} AS MATERIALIZED (
          SELECT l, r, c FROM pairs{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
        ),
        vocab{i} AS MATERIALIZED (
          SELECT s, SUM(cnt) AS cnt FROM (
            SELECT replace(v.s, '{sep}' || b.l || '{sep}{sep}' || b.r || '{sep}',
                           '{sep}' || b.l || b.r || '{sep}') AS s,
                   v.cnt
            FROM vocab{i - 1} v CROSS JOIN best{i} b
          ) GROUP BY s
        )"""
        )
    if mode == "merges":
        union = "\n        UNION ALL\n".join(
            f"        SELECT CAST({i} AS INT) AS rank, l AS left, r AS right,"
            f" CAST(c AS BIGINT) AS pair_count FROM best{i}"
            for i in range(1, n_merges + 1)
        )
        return "".join(parts) + "\n" + union
    if mode != "encode":
        raise ValueError(f"unknown mode: {mode!r}")
    # replay phase: every DISTINCT corpus word (uncapped — encode must
    # handle words outside the training cap too) through the 50 merges
    parts.append(
        f""",
        enc0 AS MATERIALIZED (
          SELECT w, '{sep}' || array_to_string(
                   list_append(list_transform(range(1, length(w) + 1),
                                              i -> substr(w, i, 1)), '</w>'),
                   '{sep}{sep}') || '{sep}' AS s
          FROM (SELECT DISTINCT w FROM toks
                WHERE w IS NOT NULL AND w <> '')
        )"""
    )
    for i in range(1, n_merges + 1):
        parts.append(
            f""",
        enc{i} AS MATERIALIZED (
          SELECT e.w,
                 CASE WHEN b.l IS NULL THEN e.s
                      ELSE replace(e.s, '{sep}' || b.l || '{sep}{sep}' || b.r || '{sep}',
                                   '{sep}' || b.l || b.r || '{sep}')
                 END AS s
          FROM enc{i - 1} e LEFT JOIN best{i} b ON TRUE
        )"""
        )
    parts.append(
        f""",
        wordlens AS MATERIALIZED (
          SELECT w, len(str_split(trim(s, '{sep}'), '{sep}{sep}')) AS n
          FROM enc{n_merges}
        ),
        doc_words AS (
          SELECT doc_id, unnest({_TOKS}) AS w FROM documents
        ),
        summed AS (
          SELECT dw.doc_id, SUM(wl.n) AS n_tokens
          FROM doc_words dw JOIN wordlens wl USING (w)
          GROUP BY dw.doc_id
        )
        SELECT d.doc_id, CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN summed s USING (doc_id)"""
    )
    return "".join(parts)


@register("bpe_merges", oracle=lambda: _bpe_merges_oracle(n_merges=50, max_words=10_000))
def _bpe_merges(spark, sf):
    """BPE merge learning: one distributed word-count shuffle, then a
    driver loop over the vocab-bounded frequency table — 50 learned
    merges as (rank, left, right, pair_count). Oracle-backed: the
    greedy loop unrolls into 50 chained MATERIALIZED CTE steps
    (pair explode -> argmax -> replace-based merge application on a
    unit-separator symbol encoding) — see _bpe_merges_oracle. Also
    pinned by test_vocab's independent-reference equivalence."""
    from pgferry_spark.operators.vocab import bpe_merges_df, learn_bpe_merges

    d = _t(spark, sf, "documents")
    return bpe_merges_df(spark, learn_bpe_merges(d, "text", n_merges=50))


@register("bpe_encode", oracle=lambda: _bpe_merges_oracle(
            n_merges=50, max_words=10_000, mode="encode"
        ))
def _bpe_encode(spark, sf):
    """Distributed encode pass under the learned BPE vocabulary: per-doc
    token counts via an Arrow-batched UDF with a per-batch word cache.
    Oracle-backed: the oracle replays the unrolled-learned
    merges over every distinct word (sequential-by-rank global replace ≡
    the UDF's priority encode for learned merge lists, whose operand
    symbols only arise from earlier merges) and sums per document."""
    from pgferry_spark.operators.vocab import bpe_encode_counts, learn_bpe_merges

    d = _t(spark, sf, "documents")
    merges = learn_bpe_merges(d, "text", n_merges=50)
    return bpe_encode_counts(d, "text", "doc_id", merges)


# losslessness: decode(encode(x)) == x, so the oracle is the
# source text itself
@register("bpe_roundtrip", oracle="SELECT doc_id, text FROM documents")
def _bpe_roundtrip(spark, sf):
    """Tokenizer losslessness: encode every
    word under the learned merges, decode the symbol sequence back
    (concatenate, strip the end-of-word marker), rejoin — the oracle is
    the ORIGINAL documents text, so hash-green means the greedy
    merge-apply loop never corrupts a symbol boundary for any word in
    the corpus (the regression class token COUNTS cannot catch).
    Whitespace-normalized boundary documented in vocab.py."""
    from pgferry_spark.operators.vocab import (
        bpe_roundtrip_texts,
        learn_bpe_merges,
    )

    d = _t(spark, sf, "documents")
    merges = learn_bpe_merges(d, "text", n_merges=50)
    return bpe_roundtrip_texts(d, "text", "doc_id", merges)


@register("curation_funnel", oracle=lambda: f"""
            {_PII_SCRUBBED},
            scored AS (
              SELECT doc_id, text,
                     ROUND(
                       {_QUALITY}, 4) AS quality
              FROM s3
            ),
            fl AS (
              SELECT doc_id, quality >= 0.3 AS pass,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM scored
            ),
            k AS (
              SELECT *, min(CASE WHEN pass THEN doc_id END)
                          OVER (PARTITION BY fp) AS keeper
              FROM fl
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_input,
                   CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_after_dedup,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper AND b < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper AND b >= 80 AND b < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                   CAST(SUM(CASE WHEN pass AND doc_id = keeper AND b >= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
            FROM k
        """)
def _curation_funnel(spark, sf):
    """One-row run manifest of the curation DAG: survivors at every stage
    (input → quality gate → dedup → split) counted in ONE pass with
    conditional aggregates — the artifact a data team diffs across runs
    to catch a filter suddenly eating a source."""
    from pgferry_spark.operators.curate import curation_funnel

    d = _t(spark, sf, "documents")
    return curation_funnel(d, "text", "doc_id", min_quality=0.3)


@register("source_datasheet", oracle=lambda: f"""
            WITH per AS (
              SELECT source,
                     len({_TOKS}) AS ntok,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     ({_QUALITY}) AS q
              FROM documents
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS docs,
                   CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                   CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_fps,
                   ROUND(1.0 - COUNT(DISTINCT fp) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
                   ROUND(AVG(q), 6) AS mean_quality
            FROM per GROUP BY source
        """)
def _source_datasheet(spark, sf):
    """Per-source mixture-design datasheet: docs, token volume, distinct
    fingerprints, dup rate, mean quality — one aggregation shuffle."""
    from pgferry_spark.operators.curate import source_datasheet

    d = _t(spark, sf, "documents")
    return source_datasheet(d, "text", "doc_id", "source")


@register("dsir_weights", oracle=lambda: f"""
            WITH tk AS (SELECT doc_id, lang = 'en' AS tgt, {_LTOKS} AS toks
                        FROM documents),
            feats AS (
              SELECT doc_id, tgt,
                     unnest(toks || CASE WHEN len(toks) >= 2
                       THEN list_transform(range(len(toks) - 1),
                                           i -> toks[i + 1] || ' ' || toks[i + 2])
                       ELSE CAST([] AS VARCHAR[]) END) AS feat
              FROM tk
            ),
            fb AS (SELECT doc_id, tgt,
                          ('0x' || substr(md5(feat), 1, 8))::BIGINT % 4096 AS b
                   FROM feats),
            dist AS (SELECT b,
                            SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_cnt,
                            SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS raw_cnt
                     FROM fb GROUP BY b),
            tot AS (SELECT SUM(tgt_cnt) AS T, SUM(raw_cnt) AS R FROM dist),
            lr AS (SELECT b,
                          ln((tgt_cnt + 1.0) / (T + 4096.0))
                          - ln((raw_cnt + 1.0) / (R + 4096.0)) AS lr
                   FROM dist CROSS JOIN tot)
            SELECT fb.doc_id, COUNT(*) AS n_feats,
                   ROUND(AVG(lr.lr), 6) AS dsir_weight
            FROM fb JOIN lr USING (b) GROUP BY fb.doc_id
        """)
def _dsir_weights(spark, sf):
    """DSIR-style hashed-n-gram importance weights against the English
    slice as the target domain: one tokenize pass, a ≤4096-row bucket
    distribution broadcast back as log ratios, one per-doc mean. The
    data-selection scorer for 'make the corpus look like the target'."""
    d = _t(spark, sf, "documents")
    return filters.dsir_importance_weights(
        d, "text", "doc_id", F.col("lang") == "en", n_buckets=4096
    )
