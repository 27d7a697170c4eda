"""BM25 ranking and corpus-hygiene filters (repetition, contamination,
length outliers) — hand-computed expectations on tiny corpora."""

from __future__ import annotations

import math

import pytest

from pgferry_spark.operators.filters import (
    contamination_check,
    length_outlier_filter,
    repetition_stats,
)
from pgferry_spark.operators.ranking import bm25_topk

DOCS = "doc_id long, text string"


def _bm25_ref(tf, df, n_docs, dl, avgdl, k1=1.2, b=0.75):
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


class TestBM25:
    def test_scores_match_reference_formula(self, spark):
        df = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry date")],
            DOCS,
        )
        got = {
            r.doc_id: (r.n_terms, r.score)
            for r in bm25_topk(df, "text", "doc_id", ["apple", "banana"], k=10).collect()
        }
        avgdl = (3 + 2 + 2) / 3.0
        # doc 1: apple tf=2 (df=1), banana tf=1 (df=2); doc 2: banana tf=1
        d1 = _bm25_ref(2, 1, 3, 3, avgdl) + _bm25_ref(1, 2, 3, 3, avgdl)
        d2 = _bm25_ref(1, 2, 3, 2, avgdl)
        assert got[1] == (2, round(d1, 6))
        assert got[2] == (1, round(d2, 6))
        assert 3 not in got  # no query term

    def test_rare_term_outranks_common(self, spark):
        rows = [(i, "common filler words here") for i in range(20)]
        rows.append((99, "common rare"))
        df = spark.createDataFrame(rows, DOCS)
        top = bm25_topk(df, "text", "doc_id", ["common", "rare"], k=1).collect()
        assert top[0].doc_id == 99

    def test_k_cut_and_tiebreak(self, spark):
        # identical docs → identical scores; ties break on doc_id asc
        df = spark.createDataFrame([(i, "tie word") for i in range(5)], DOCS)
        got = [r.doc_id for r in bm25_topk(df, "text", "doc_id", ["tie"], k=3).collect()]
        assert got == [0, 1, 2]


class TestRRFFuse:
    def test_hand_computed_two_lists(self, spark):
        from pgferry_spark.operators.ranking import rrf_fuse

        lex = spark.createDataFrame(
            [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
        )
        sem = spark.createDataFrame(
            [(2, 0.9), (4, 0.8)], "doc_id long, score double"
        )
        got = {
            r.doc_id: (r.n_lists, r.rrf_score)
            for r in rrf_fuse([lex, sem], "doc_id", k=10, k0=60).collect()
        }
        # doc 2: rank 2 in lex, rank 1 in sem
        assert got[2] == (2, round(1 / 62 + 1 / 61, 6))
        assert got[1] == (1, round(1 / 61, 6))
        assert got[4] == (1, round(1 / 62, 6))  # rank 2 in sem
        assert got[3] == (1, round(1 / 63, 6))

    def test_doc_in_both_lists_beats_single_list_winner(self, spark):
        from pgferry_spark.operators.ranking import rrf_fuse

        lex = spark.createDataFrame(
            [(1, 9.0), (2, 8.0)], "doc_id long, score double"
        )
        sem = spark.createDataFrame(
            [(2, 0.9), (3, 0.8)], "doc_id long, score double"
        )
        top = rrf_fuse([lex, sem], "doc_id", k=1).collect()
        assert top[0].doc_id == 2  # 1/62+1/61 > 1/61

    def test_rank_ties_break_on_id(self, spark):
        from pgferry_spark.operators.ranking import rrf_fuse

        # equal scores within a list: lower id gets the better rank
        lst = spark.createDataFrame(
            [(5, 1.0), (3, 1.0)], "doc_id long, score double"
        )
        got = [(r.doc_id, r.rrf_score) for r in rrf_fuse([lst], "doc_id").collect()]
        assert got == [(3, round(1 / 61, 6)), (5, round(1 / 62, 6))]

    def test_empty_input_raises(self, spark):
        from pgferry_spark.operators.ranking import rrf_fuse

        with pytest.raises(ValueError):
            rrf_fuse([], "doc_id")

    def test_input_list_order_invariant(self, spark):
        # each list is ranked independently, so fuse([A,B]) == fuse([B,A])
        from pgferry_spark.operators.ranking import rrf_fuse

        a = spark.createDataFrame(
            [(1, 9.0), (2, 5.0), (3, 2.0)], "doc_id long, score double"
        )
        b = spark.createDataFrame(
            [(2, 0.9), (4, 0.8), (1, 0.1)], "doc_id long, score double"
        )
        ab = {(r.doc_id, r.n_lists, r.rrf_score)
              for r in rrf_fuse([a, b], "doc_id").collect()}
        ba = {(r.doc_id, r.n_lists, r.rrf_score)
              for r in rrf_fuse([b, a], "doc_id").collect()}
        assert ab == ba

    def test_randomized_against_local_reference(self, spark):
        # 3 seeded random lists fused in one round-trip vs a from-scratch
        # local RRF
        import random

        rng = random.Random(20260815)
        lists = []
        for _ in range(3):
            ids = rng.sample(range(100), 20)
            lists.append([(i, round(rng.uniform(0, 10), 3)) for i in ids])

        def local_rrf(ls, k0=60):
            agg = {}
            for lst in ls:
                ranked = sorted(lst, key=lambda t: (-t[1], t[0]))
                for rank, (i, _) in enumerate(ranked, start=1):
                    n, s = agg.get(i, (0, 0.0))
                    agg[i] = (n + 1, s + 1.0 / (k0 + rank))
            rows = [(i, n, round(s, 6)) for i, (n, s) in agg.items()]
            rows.sort(key=lambda t: (-t[2], t[0]))
            return rows[:10]

        from pgferry_spark.operators.ranking import rrf_fuse

        dfs = [
            spark.createDataFrame(lst, "doc_id long, score double")
            for lst in lists
        ]
        got = [
            (r.doc_id, r.n_lists, r.rrf_score)
            for r in rrf_fuse(dfs, "doc_id", k=10).collect()
        ]
        assert got == local_rrf(lists)


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        df = spark.createDataFrame([(1, "x x y"), (2, "a b c d"), (3, "")], DOCS)
        got = {r.doc_id: r.asDict() for r in repetition_stats(df, "text", "doc_id").collect()}
        # doc 1: 3 tokens, 2 distinct → dup 1/3; top word x 2/3;
        # bigrams ['x x','x y'] → top 1/2
        assert got[1]["n_tokens"] == 3
        assert got[1]["dup_word_frac"] == round(1 / 3, 6)
        assert got[1]["top_word_frac"] == round(2 / 3, 6)
        assert got[1]["top_bigram_frac"] == 0.5
        # doc 2: all distinct
        assert got[2]["dup_word_frac"] == 0.0
        assert got[2]["top_word_frac"] == 0.25
        assert got[2]["top_bigram_frac"] == round(1 / 3, 6)
        # empty doc: defined fractions, null tops
        assert got[3]["n_tokens"] == 0
        assert got[3]["dup_word_frac"] == 0.0
        assert got[3]["top_word_frac"] is None
        assert got[3]["top_bigram_frac"] is None

    def test_case_insensitive(self, spark):
        df = spark.createDataFrame([(1, "Word word WORD")], DOCS)
        row = repetition_stats(df, "text", "doc_id").collect()[0]
        assert row.top_word_frac == 1.0


class TestBlockwords:
    def test_token_equality_not_substring(self, spark):
        """The Scunthorpe property: a listed word embedded inside a
        longer token never trips; exact lowercased tokens do."""
        from pgferry_spark.operators.filters import blockword_flags

        rows = [
            (1, "a perfectly slow sentence"),      # exact token -> blocked
            (2, "the slowest sentence of all"),    # substring only -> clean
            (3, "SLOW uppercase still counts"),    # case-folded -> blocked
            (4, "nothing listed here"),
            (5, ""),                               # blank -> clean
        ]
        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = {
            r.doc_id: r.blocked
            for r in blockword_flags(df, ("slow",), "text", "doc_id").collect()
        }
        assert got == {1: True, 2: False, 3: True, 4: False, 5: False}

    def test_word_list_validated(self, spark):
        import pytest as _pytest

        from pgferry_spark.operators.filters import blockword_flags

        df = spark.createDataFrame([(1, "x")], "doc_id: long, text: string")
        with _pytest.raises(ValueError):
            blockword_flags(df, (), "text", "doc_id")
        with _pytest.raises(ValueError):
            blockword_flags(df, ("bad'word",), "text", "doc_id")


class TestGopherQuality:
    def test_each_rule_fires_on_its_failure_mode(self, spark):
        """Gopher A1.1 gates (round 9): per-rule hand-computed signals,
        one fixture per failure mode."""
        from pgferry_spark.operators.filters import gopher_quality_flags

        good = ("the quick brown fox jumps over " * 10).strip()  # 60 words
        rows = [
            (1, good),
            (2, "the tiny doc."),                         # < min words
            (3, "- " + good),                             # all-bullet line
            (4, good + "..."),                            # ellipsis-ended
            (5, good + " " + "#" * 40),                   # symbol soup
            (6, ("1 2 3 4 5 6 7 8 9 0 " * 6) + "the x"),  # low alpha ratio
            (7, ("zebra quokka lorem " * 20).strip()),    # no stopwords
        ]
        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = {
            r.doc_id: r
            for r in gopher_quality_flags(
                df, "text", "doc_id", min_words=25, min_stopwords=1
            ).collect()
        }
        assert got[1].passes
        assert got[1].n_words == 60
        assert got[1].n_stopword_hits == 1  # 'the'
        assert round(got[1].alpha_word_ratio, 3) == 1.0
        assert not got[2].passes                    # word floor
        assert not got[3].passes and got[3].bullet_line_ratio == 1.0
        assert not got[4].passes and got[4].ellipsis_line_ratio == 1.0
        assert not got[5].passes and got[5].symbol_ratio > 0.1
        assert not got[6].passes and got[6].alpha_word_ratio < 0.8
        assert not got[7].passes and got[7].n_stopword_hits == 0

    def test_blank_docs_excluded_and_plan_map_only(self, spark):
        from pgferry_spark.operators.filters import gopher_quality_flags

        df = spark.createDataFrame(
            [(1, "the good document stays here today. " * 10), (2, "  ")],
            "doc_id: long, text: string",
        )
        out = gopher_quality_flags(df, "text", "doc_id", min_words=5,
                                   min_stopwords=1)
        rows = out.collect()
        assert [r.doc_id for r in rows] == [1]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # map-only, scan-bound


class TestFineWebQuality:
    def test_each_gate_fires_on_its_failure_mode(self, spark):
        """FineWeb custom filters (round 10): hand-computed signals,
        one pure fixture per gate."""
        from pgferry_spark.operators.filters import fineweb_quality_flags

        long_line = "this is a long enough sentence for the gate."  # 45ch
        rows = [
            (1, long_line + "\n" + "another properly terminated line!"),
            # punct gate: no line ends in terminal punctuation
            (2, long_line[:-1] + "\n" + "and a second unterminated one"),
            # short-line gate: 3 of 4 lines under 30 chars (all distinct,
            # all punct-terminated -> other gates pass)
            (3, long_line + "\nok one.\nok two.\nok three."),
            # dup gate: the same long line three times = 2/3 dup chars
            (4, long_line + "\n" + long_line + "\n" + long_line),
        ]
        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = {
            r.doc_id: r for r in fineweb_quality_flags(
                df, "text", "doc_id"
            ).collect()
        }
        assert got[1].passes
        assert got[1].punct_line_ratio == 1.0
        assert got[1].dup_line_char_frac == 0.0
        assert not got[2].passes and got[2].punct_line_ratio == 0.0
        assert not got[3].passes and got[3].short_line_ratio == 0.75
        assert got[3].punct_line_ratio == 1.0  # only the short gate fires
        assert got[3].dup_line_char_frac == 0.0
        assert not got[4].passes
        assert round(got[4].dup_line_char_frac, 4) == round(2 / 3, 4)
        assert got[4].short_line_ratio == 0.0

    def test_blank_lines_excluded_and_plan_shuffle_free(self, spark):
        """ZERO Exchange: the dup fraction rides array_distinct inside
        the row — no per-line aggregate shuffle (the design delta vs
        line_repetition_stats)."""
        from pgferry_spark.operators.filters import fineweb_quality_flags

        df = spark.createDataFrame(
            [(1, "a real terminated sentence, long enough to count.\n\n  \n"
                 "and one more terminated line after blanks here."),
             (2, " \n  ")],
            "doc_id: long, text: string",
        )
        out = fineweb_quality_flags(df, "text", "doc_id")
        rows = out.collect()
        assert [r.doc_id for r in rows] == [1]
        assert rows[0].n_lines == 2  # blank lines never count
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestContamination:
    def test_shared_ngram_flagged(self, spark):
        bench = spark.createDataFrame([(100, "the quick brown fox jumps")], DOCS)
        corpus = spark.createDataFrame(
            [
                (1, "saw the quick brown fox leap"),  # shares 2 distinct 4-grams? no: 1
                (2, "completely unrelated text entirely here"),
                (3, "a b"),  # shorter than n — no shingles
            ],
            DOCS,
        )
        got = {
            r.doc_id: r.asDict()
            for r in contamination_check(corpus, bench, "text", "doc_id", n=4).collect()
        }
        # doc 1's 4-grams: 'saw the quick brown', 'the quick brown fox',
        # 'quick brown fox leap' — exactly one hits the benchmark
        assert set(got) == {1}
        assert got[1]["n_hit_shingles"] == 1
        assert got[1]["n_shingles"] == 3
        assert got[1]["hit_frac"] == round(1 / 3, 6)

    def test_repeated_hit_counts_once(self, spark):
        bench = spark.createDataFrame([(100, "p q r s")], DOCS)
        corpus = spark.createDataFrame([(1, "p q r s p q r s p q r s")], DOCS)
        row = contamination_check(corpus, bench, "text", "doc_id", n=4).collect()[0]
        assert row.n_hit_shingles == 1  # distinct shingles, not occurrences


class TestLengthOutliers:
    def test_exact_percentile_bounds(self, spark):
        rows = [(i, "en", v) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 1000])]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        got = length_outlier_filter(df, "lang", "n_chars", "doc_id", 0.05, 0.95).collect()
        # exact interpolated p05 of the 10 values = 14.5, p95 = 590.5:
        # only 10 (below) and 1000 (above) fall outside
        assert sorted(r.doc_id for r in got) == [0, 9]
        assert got[0].lo_bound == 14.5
        assert got[0].hi_bound == 590.5

    def test_grouped_independently(self, spark):
        rows = [(i, "en", 100) for i in range(10)] + [(100 + i, "de", i) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
        got = length_outlier_filter(df, "lang", "n_chars", "doc_id", 0.05, 0.95).collect()
        # en group is constant → no outliers; de has its own bounds
        assert all(r.lang == "de" for r in got)


class TestUnigramLogprob:
    def test_hand_computed(self, spark):
        from pgferry_spark.operators.filters import unigram_logprob_scores

        df = spark.createDataFrame([(1, "a a b"), (2, "b"), (3, "")], DOCS)
        got = {r.doc_id: r.asDict() for r in unigram_logprob_scores(df, "text", "doc_id").collect()}
        # corpus counts: a=2, b=2, total=4 -> every token logprob = ln(0.5)
        lp = round(math.log(0.5), 6)
        assert got[1]["n_tokens"] == 3 and got[1]["logprob"] == lp
        assert got[2]["n_tokens"] == 1 and got[2]["logprob"] == lp
        assert 3 not in got  # empty doc: nothing to score

    def test_rare_tokens_score_lower(self, spark):
        from pgferry_spark.operators.filters import unigram_logprob_scores

        rows = [(i, "common common common") for i in range(10)] + [(99, "rareword")]
        df = spark.createDataFrame(rows, DOCS)
        got = {r.doc_id: r.logprob for r in unigram_logprob_scores(df, "text", "doc_id").collect()}
        assert got[99] < got[0]


class TestBigramLogprob:
    def test_hand_computed(self, spark):
        from pgferry_spark.operators.filters import bigram_logprob_scores

        df = spark.createDataFrame([(1, "a b a b"), (2, "a"), (3, "")], DOCS)
        got = {r.doc_id: r.asDict() for r in bigram_logprob_scores(df, "text", "doc_id").collect()}
        # corpus: tokens a=3, b=2, total=5; bigrams (a,b)=2, (b,a)=1
        # doc 1 positions: a->b, b->a, a->b
        # p(b|a) = .75*2/3 + .25*2/5 = 0.6 ; p(a|b) = .75*1/2 + .25*3/5 = 0.525
        lp = round((2 * math.log(0.6) + math.log(0.525)) / 3, 6)
        assert got[1]["n_bigrams"] == 3 and got[1]["logprob"] == lp
        assert 2 not in got  # single token: no bigram
        assert 3 not in got

    def test_word_salad_scores_below_prose(self, spark):
        from pgferry_spark.operators.filters import bigram_logprob_scores, unigram_logprob_scores

        # identical unigram mix, opposite transition structure: docs 0-9
        # repeat the same phrase (high-probability transitions); doc 99
        # uses the same words in a shuffled order whose bigrams are rare
        prose = "the cat sat on the mat"
        salad = "mat the on sat cat the"
        rows = [(i, prose) for i in range(10)] + [(99, salad)]
        df = spark.createDataFrame(rows, DOCS)
        uni = {r.doc_id: r.logprob for r in unigram_logprob_scores(df, "text", "doc_id").collect()}
        big = {r.doc_id: r.logprob for r in bigram_logprob_scores(df, "text", "doc_id").collect()}
        assert uni[99] == uni[0]  # unigram model cannot tell them apart
        assert big[99] < big[0]  # transition model can


def _kn_expected(docs, D=0.75):
    """Independent pure-Python interpolated-KN trigram replay — dicts
    and Counters, no Spark/SQL — so a wiring bug in either engine's
    chain can't hide behind a shared mistake."""
    from collections import Counter, defaultdict

    tris = {}
    c3 = Counter()
    for did, text in docs:
        toks = text.lower().split()
        tgs = [tuple(toks[i:i + 3]) for i in range(len(toks) - 2)]
        if tgs:
            tris[did] = tgs
            c3.update(tgs)
    ctx_total = Counter()
    ctx_types = Counter()
    cont2 = defaultdict(set)
    for (u, v, w), c in c3.items():
        ctx_total[(u, v)] += c
        ctx_types[(u, v)] += 1
        cont2[(v, w)].add(u)
    cont_vw = {k: len(s) for k, s in cont2.items()}
    ctx_v = Counter()
    nt_v = Counter()
    cont_w = Counter()
    for (v, w), c in cont_vw.items():
        ctx_v[v] += c
        nt_v[v] += 1
        cont_w[w] += 1
    total_vw = len(cont_vw)
    out = {}
    for did, tgs in tris.items():
        lps = []
        for u, v, w in tgs:
            p1 = cont_w[w] / total_vw
            p2 = (max(cont_vw[(v, w)] - D, 0.0) / ctx_v[v]
                  + D * nt_v[v] / ctx_v[v] * p1)
            p3 = (max(c3[(u, v, w)] - D, 0.0) / ctx_total[(u, v)]
                  + D * ctx_types[(u, v)] / ctx_total[(u, v)] * p2)
            lps.append(math.log(p3))
        lp = round(sum(lps) / len(lps), 6) + 0.0
        out[did] = (len(tgs), lp, round(math.exp(-lp), 6))
    return out


class TestKNTrigramLogprob:
    def test_matches_independent_replay(self, spark):
        """Spark KN chain vs the pure-Python replay on a corpus that
        exercises every model table: repeated trigrams, shared bigram
        contexts under different left-contexts (the continuation-count
        machinery), and per-doc-unique tails."""
        from pgferry_spark.operators.filters import kn_trigram_logprob_scores

        docs = [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the hat"),
            (3, "a cat sat under the mat"),
            (4, "the dog sat on the mat"),
            (5, "colorless green ideas sleep furiously"),
            (6, "the cat"),      # <3 tokens: absent
            (7, ""),             # empty: absent
        ]
        df = spark.createDataFrame(docs, DOCS)
        got = {
            r.doc_id: (r.n_trigrams, r.logprob, r.perplexity)
            for r in kn_trigram_logprob_scores(df, "text", "doc_id").collect()
        }
        want = _kn_expected(docs)
        assert got == want
        assert 6 not in got and 7 not in got

    def test_continuation_counts_not_raw(self, spark):
        """The KN signature: a bigram frequent only inside ONE stock
        phrase gets a LOW continuation probability.  'san francisco'
        appears 8 times but always after 'in' (one left-context);
        'red car' appears twice under two left-contexts.  Backing off
        from unseen contexts, KN must prefer the diverse bigram —
        a raw-count backoff would prefer the stock phrase."""
        from pgferry_spark.operators.filters import kn_trigram_logprob_scores

        rows = (
            [(i, "we live in san francisco") for i in range(8)]
            + [(20, "a red car"), (21, "the red car")]
            # probes: same unseen context ('near the'), target bigram
            # differs — backoff decides the score entirely
            + [(30, "x1 near the red car x2"), (31, "x1 near the san francisco x2")]
        )
        # make 'near the' / trailing shapes identical across probes so
        # only the middle bigram's continuation stats differ
        df = spark.createDataFrame(rows, DOCS)
        got = {
            r.doc_id: r.logprob
            for r in kn_trigram_logprob_scores(df, "text", "doc_id").collect()
        }
        want = _kn_expected(rows)
        assert got[30] == want[30][1] and got[31] == want[31][1]

    def test_prose_beats_salad_and_ppl_consistency(self, spark):
        from pgferry_spark.operators.filters import kn_trigram_logprob_scores

        prose = "the cat sat on the mat"
        salad = "mat the on sat cat the"
        rows = [(i, prose) for i in range(10)] + [(99, salad)]
        df = spark.createDataFrame(rows, DOCS)
        got = {r.doc_id: r for r in
               kn_trigram_logprob_scores(df, "text", "doc_id").collect()}
        assert got[99].logprob < got[0].logprob
        assert got[99].perplexity > got[0].perplexity
        for r in got.values():
            assert r.perplexity == round(math.exp(-r.logprob), 6)


class TestLineRepetition:
    def test_hand_computed_fractions(self, spark):
        from pgferry_spark.operators.filters import line_repetition_stats

        rows = [
            # 4 lines, 'nav bar' repeats once: dup_line_frac 1/4;
            # chars: nav bar(7)x2 + aa(2) + bbbb(4) -> dup chars 7/20
            (1, "nav bar\naa\nnav bar\nbbbb"),
            (2, "unique one\nunique two"),
            (3, "same\nsame\nsame"),
            (4, "only\n\n  \n"),   # blank lines not counted
        ]
        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        got = {r.doc_id: r.asDict()
               for r in line_repetition_stats(df, "text", "doc_id").collect()}
        assert got[1]["n_lines"] == 4
        assert got[1]["dup_line_frac"] == 0.25
        assert got[1]["dup_line_char_frac"] == round(7 / 20, 6)
        assert got[2]["dup_line_frac"] == 0.0
        assert got[3]["dup_line_frac"] == round(2 / 3, 6)
        assert got[3]["dup_line_char_frac"] == round(2 / 3, 6)
        assert got[4]["n_lines"] == 1 and got[4]["dup_line_frac"] == 0.0


class TestCCNetBuckets:
    def test_tiers_by_language_with_tie_atomicity(self, spark):
        """CCNet head/middle/tail per language: prose-like repeated
        phrases land in head, shuffled word salad in tail; documents
        sharing a score class share a bucket (ties never straddle a
        boundary); languages tier independently."""
        from pgferry_spark.operators.filters import ccnet_buckets

        # three DISJOINT-vocabulary families: within each, transitions
        # are deterministic (bigram term identical), so the interpolated
        # unigram term orders them by corpus support — 6-doc family >
        # 3-doc family > per-doc-unique words.  en n=12: the 6-doc head
        # class overflows its third but stays atomic; middle starts at
        # n_gt=6 (18 >= 12, < 24); the unique-word docs share one score
        # class at n_gt=9 (27 >= 24) -> tail.
        rows = (
            [(i, "alpha beta gamma", "en") for i in range(6)]
            + [(10 + i, "delta epsilon zeta", "en") for i in range(3)]
            + [(20 + i, f"u{i}a u{i}b u{i}c", "en") for i in range(3)]
            # fr: every doc identical -> ONE class; 3*n_gt(=0) < n for
            # all, so the whole language is head (tie atomicity)
            + [(30 + i, "chien chat " * 3, "fr") for i in range(4)]
        )
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string"
        )
        got = {r.doc_id: r for r in
               ccnet_buckets(df, "text", "doc_id").collect()}
        assert all(got[i].bucket == "head" for i in range(6))
        assert all(got[10 + i].bucket == "middle" for i in range(3))
        assert all(got[20 + i].bucket == "tail" for i in range(3))
        assert all(got[30 + i].bucket == "head" for i in range(4))
        # per-class consistency: same (lang, score) -> same bucket
        by_class = {}
        for r in got.values():
            by_class.setdefault((r.lang, r.logprob), set()).add(r.bucket)
        assert all(len(v) == 1 for v in by_class.values())

    def test_tier_joinback_broadcast_posture(self, spark):
        """VERDICT r10 Next #8: the tier join-back is row-count-probed
        like the robots gate — the config-scale class table broadcasts
        under the limit (documents never shuffle for the assignment),
        and the same assignment rides a shuffle-hash equi-join past it.
        Output identical either way."""
        from pgferry_spark.operators.filters import ccnet_buckets

        rows = (
            [(i, "alpha beta gamma", "en") for i in range(6)]
            + [(10 + i, f"u{i}a u{i}b u{i}c", "en") for i in range(3)]
        )
        df = spark.createDataFrame(
            rows, "doc_id: long, text: string, lang: string"
        )
        small = ccnet_buckets(df, "text", "doc_id")
        plan_s = small._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_s
        big = ccnet_buckets(df, "text", "doc_id", broadcast_limit=0)
        plan_b = big._jdf.queryExecution().executedPlan().toString()
        # the langs enrichment join may still broadcast — the pinned
        # fact is that the TIER join-back rides the hinted shuffle-hash
        assert "ShuffledHashJoin" in plan_b
        a = {(r.doc_id, r.bucket) for r in small.collect()}
        b = {(r.doc_id, r.bucket) for r in big.collect()}
        assert a == b and len(a) == len(rows)


class TestApproxDistinct:
    def test_within_tolerance_and_exact_counts(self, spark):
        from pgferry_spark.operators.checks import approx_distinct_check

        rows = [(i, f"u{i % 50}", "click") for i in range(500)]
        df = spark.createDataFrame(rows, "id long, user string, typ string")
        got = approx_distinct_check(df, "typ", "user").collect()
        assert len(got) == 1
        assert got[0].n_exact == 50
        assert got[0].within_tolerance is True


class TestQuantizeEmbeddings:
    def test_codes_scale_and_error(self, spark):
        from pgferry_spark.operators.similarity import quantize_embeddings

        df = spark.createDataFrame(
            [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        got = {r.vec_id: r.asDict() for r in quantize_embeddings(df, "embedding", "vec_id").collect()}
        # scale 1.0: codes 127, -63.5 -> -64 (half away from zero), 31.75 -> 32
        assert got[1]["scale"] == 1.0
        assert got[1]["qvec_csv"] == "127,-64,32"
        # reconstruction error vs -64/127 and 32/127
        import math
        e = math.sqrt((-0.5 - (-64 / 127)) ** 2 + (0.25 - 32 / 127) ** 2)
        assert got[1]["recon_err"] == round(e, 6)
        # zero vector: scale 0, all-zero codes, zero error
        assert got[2]["scale"] == 0.0
        assert got[2]["qvec_csv"] == "0,0,0"
        assert got[2]["recon_err"] == 0.0


class TestIncrementalDedup:
    def test_batch_vs_corpus_and_within_batch(self, spark):
        from pgferry_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(1, "already known text"), (2, "other corpus doc")], DOCS
        )
        batch = spark.createDataFrame(
            [
                (10, "already known text"),   # dup of corpus -> rejected
                (11, "brand new document"),   # admitted
                (12, "brand new document"),   # within-batch dup -> rejected
                (13, "Already   KNOWN text"), # normalized dup of corpus -> rejected
                (14, "another fresh one"),    # admitted
            ],
            DOCS,
        )
        got = sorted(r.doc_id for r in incremental_dedup(batch, corpus, "text", "doc_id").collect())
        assert got == [11, 14]


class TestLshBucketCap:
    def test_hot_bucket_excluded_others_kept(self, spark):
        from pgferry_spark.operators.dedup import lsh_candidate_pairs

        # 6 identical docs (one hot bucket in every band) + 2 near-dups
        rows = [(i, "common boiler plate text repeated") for i in range(6)]
        rows += [(10, "alpha beta gamma delta epsilon"), (11, "alpha beta gamma delta zeta")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = set(
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(df, "text", "doc_id", 12, 4, 3).collect()
        )
        capped = set(
            (r.id_a, r.id_b)
            for r in lsh_candidate_pairs(df, "text", "doc_id", 12, 4, 3, max_bucket=4).collect()
        )
        # identical-doc pairs (15 of them) are gone; the near-dup pair survives
        assert all(a < 10 and b < 10 for a, b in uncapped - capped)
        assert (10, 11) in capped
        assert capped < uncapped


class TestAdviceEdgeCases:
    """Round-3 ADVICE items: bm25 degenerate inputs, identifier-safe
    percentile bounds, step-unit validation."""

    def test_bm25_empty_terms_raises(self, spark):
        from pgferry_spark.operators.ranking import bm25_topk

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        import pytest as _pytest

        with _pytest.raises(ValueError):
            bm25_topk(df, "text", "doc_id", [])

    def test_bm25_duplicate_terms_score_once(self, spark):
        from pgferry_spark.operators.ranking import bm25_topk

        df = spark.createDataFrame(
            [(1, "spark shuffles data"), (2, "spark spark spark"), (3, "no match here")],
            "doc_id long, text string",
        )
        once = {(r.doc_id, r.n_terms, r.score)
                for r in bm25_topk(df, "text", "doc_id", ["spark"]).collect()}
        dup = {(r.doc_id, r.n_terms, r.score)
               for r in bm25_topk(df, "text", "doc_id", ["spark", "SPARK", "spark"]).collect()}
        assert once == dup and len(once) == 2

    def test_length_outlier_bounds_quoted_identifier(self, spark):
        from pgferry_spark.operators.filters import length_outlier_bounds

        # a column name that breaks unquoted SQL interpolation
        df = spark.createDataFrame(
            [("en", 10), ("en", 20), ("en", 30)], "lang string, `token count` int"
        )
        rows = length_outlier_bounds(df, "lang", "token count", 0.0, 1.0).collect()
        assert rows[0]["lo_bound"] == 10.0 and rows[0]["hi_bound"] == 30.0

    def test_step_unit_validated(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from pgferry_spark.operators.temporal import fill_time_gaps, rate_anomalies

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00")], "user_id long, ts string"
        ).select("user_id", F.to_timestamp("ts").alias("ts"))
        with _pytest.raises(ValueError):
            fill_time_gaps(df, "user_id", "ts", "day'; DROP TABLE x")
        with _pytest.raises(ValueError):
            rate_anomalies(df, step="fortnight")


class TestTfidfSimilarityPairs:
    def test_identical_docs_score_one_and_disjoint_absent(self, spark):
        from pgferry_spark.operators.ranking import tfidf_similarity_pairs

        rows = [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),     # identical -> cosine 1.0
            (3, "alpha beta gamma epsilon"),   # high overlap
            (4, "zeta eta theta iota"),        # disjoint from 1-3
            (5, "zeta eta theta iota kappa"),
        ]
        df = spark.createDataFrame(rows, "id: long, text: string")
        got = {(r["id_a"], r["id_b"]): r["cosine_sim"]
               for r in tfidf_similarity_pairs(df, "text", "id",
                                               threshold=0.1).collect()}
        assert got[(1, 2)] == 1.0
        assert got[(4, 5)] > got.get((1, 3), 0.0) > 0.0
        assert not any({a, b} == {1, 4} or {a, b} == {3, 4} for a, b in got)

    def test_max_df_prunes_stopword_blocking(self, spark):
        from pgferry_spark.operators.ranking import tfidf_similarity_pairs

        # 'the' appears in every doc: with max_df it can't generate pairs
        rows = [(i, f"the unique{i} word{i}") for i in range(20)]
        df = spark.createDataFrame(rows, "id: long, text: string")
        full = tfidf_similarity_pairs(df, "text", "id", threshold=0.0)
        capped = tfidf_similarity_pairs(df, "text", "id", threshold=0.0,
                                        max_df=5)
        # ubiquitous-token pairs exist uncapped (score ~0 but present);
        # capping removes the blocking token so no pairs remain
        assert full.count() > 0 and capped.count() == 0


class TestCompressibilityEntropy:
    def test_hand_computed(self, spark):
        from pgferry_spark.operators.filters import compressibility_entropy

        df = spark.createDataFrame(
            [(1, "aabb"), (2, "aaaa"), (3, "")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in
               compressibility_entropy(df, "text", "doc_id").collect()}
        assert got[1].n_chars == 4 and got[1].entropy_bits == 1.0
        assert got[1].est_ratio == 0.125
        assert got[2].entropy_bits == 0.0  # single symbol: zero entropy
        assert 3 not in got  # empty doc absent (mirrors the zlib twin)

    def test_same_ordering_law_as_zlib_twin(self, spark):
        # the twin must reproduce the curation signal's ordering:
        # repetitive < prose < random
        from pgferry_spark.operators.filters import compressibility_entropy

        import random as _r
        rng = _r.Random(42)
        repetitive = "spam ham " * 200
        prose = (
            "The migration pipeline reads each table in key ranges, applies "
            "the column transforms, and streams the rows into the target "
            "with constraints replayed afterwards. " * 10
        )
        rand = "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz 0123456789")
            for _ in range(2000)
        )
        df = spark.createDataFrame(
            [(1, repetitive), (2, prose), (3, rand)],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.est_ratio for r in
               compressibility_entropy(df, "text", "doc_id").collect()}
        assert got[1] < got[2] < got[3]


class TestCompressionRatio:
    def test_orders_repetitive_prose_random(self, spark):
        from pgferry_spark.operators.filters import compression_ratio_stats

        import random as _r
        rng = _r.Random(42)
        repetitive = "spam ham " * 200
        prose = (
            "The migration pipeline reads each table in key ranges, applies "
            "the column transforms, and streams the rows into the target "
            "with constraints replayed afterwards. " * 10
        )
        rand = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz 0123456789") for _ in range(2000))
        df = spark.createDataFrame(
            [(1, repetitive), (2, prose), (3, rand), (4, "")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in compression_ratio_stats(df, "text", "doc_id").collect()}
        assert got[1].ratio < got[2].ratio < got[3].ratio
        assert 4 not in got  # empty doc absent
        assert got[1].n_bytes == len(repetitive.encode())

    def test_deterministic_across_runs(self, spark):
        from pgferry_spark.operators.filters import compression_ratio_stats

        df = spark.createDataFrame(
            [(i, f"document number {i} with shared boilerplate text") for i in range(50)],
            "doc_id long, text string",
        )
        a = sorted((r.doc_id, r.ratio) for r in compression_ratio_stats(df, "text", "doc_id").collect())
        b = sorted((r.doc_id, r.ratio) for r in compression_ratio_stats(df, "text", "doc_id").collect())
        assert a == b


class TestDsirImportance:
    def test_target_lookalikes_score_higher(self, spark):
        from pyspark.sql import functions as F

        from pgferry_spark.operators.filters import dsir_importance_weights

        # target domain: cooking text; raw: legal text. A held-out cooking
        # doc (not marked target) must outweigh a held-out legal doc.
        cook = "simmer the garlic butter sauce then whisk the cream slowly"
        law = "the party of the first part shall indemnify the licensor"
        rows = (
            [(i, cook + f" variation {i}", True) for i in range(10)]
            + [(100 + i, law + f" clause {i}", False) for i in range(10)]
            + [(900, "whisk garlic butter slowly", False),
               (901, "licensor shall indemnify party", False)]
        )
        df = spark.createDataFrame(rows, "doc_id: long, text: string, is_tgt: boolean")
        out = {
            r["doc_id"]: r["dsir_weight"]
            for r in dsir_importance_weights(
                df, "text", "doc_id", F.col("is_tgt"), n_buckets=512
            ).collect()
        }
        assert len(out) == 22
        assert out[900] > out[901]
        # marked-target docs themselves score above the raw legal docs
        assert min(out[i] for i in range(10)) > max(out[100 + i] for i in range(10))

    def test_empty_docs_absent_and_counts(self, spark):
        from pyspark.sql import functions as F

        from pgferry_spark.operators.filters import dsir_importance_weights

        df = spark.createDataFrame(
            [(1, "a b c", True), (2, "", False), (3, "solo", False)],
            "doc_id: long, text: string, t: boolean",
        )
        out = {
            r["doc_id"]: r
            for r in dsir_importance_weights(df, "text", "doc_id", F.col("t")).collect()
        }
        assert set(out) == {1, 3}
        # 3 unigrams + 2 bigrams for doc 1; single token -> 1 feature, no bigram
        assert out[1]["n_feats"] == 5
        assert out[3]["n_feats"] == 1
