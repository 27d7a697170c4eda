"""Sketch laws: HLL / Count-Min / Bloom determinism, mergeability, bounds.

The mergeability properties are the whole point of shipping sketches at
100 TB — sketch(A ∪ B) == merge(sketch(A), sketch(B)) means per-source /
per-day sketches roll up without rescanning raw data. Each law is pinned
as exact DataFrame equality (the hashes are deterministic md5 derivations,
so there is no tolerance anywhere except the HLL *estimate* accuracy
checks, which use the published error bounds)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgferry_spark.operators.dedup import exact_substring_spans
from pgferry_spark.operators.sketches import (
    bloom_bits,
    bloom_probe,
    cms_lookup,
    cms_sketch,
    hll_estimate,
    hll_merge,
    hll_registers,
)


def _ids(spark, lo, hi, col="v"):
    return spark.range(lo, hi).select(F.col("id").alias(col))


# -- HyperLogLog -------------------------------------------------------------


def test_hll_merge_equals_union_sketch(spark):
    a = _ids(spark, 0, 3000)
    b = _ids(spark, 2000, 6000)  # overlapping ranges
    direct = {(r.bucket, r.register)
              for r in hll_registers(a.union(b), "v").collect()}
    merged = {(r.bucket, r.register)
              for r in hll_merge(hll_registers(a, "v")
                                 .union(hll_registers(b, "v"))).collect()}
    assert direct == merged


def test_hll_estimate_within_error_bound(spark):
    # m=256 => standard error 1.04/sqrt(256) = 6.5%; 4 sigma = 26%.
    n = 5000
    est = hll_estimate(hll_registers(_ids(spark, 0, n), "v")).collect()[0]
    assert abs(est.est_distinct - n) / n < 0.26


def test_hll_duplicates_do_not_move_registers(spark):
    once = _ids(spark, 0, 1000)
    thrice = once.union(once).union(once)
    assert (hll_registers(once, "v").exceptAll(
        hll_registers(thrice, "v")).count() == 0)


def test_hll_group_cols_partition_the_sketch(spark):
    df = spark.range(0, 2000).select(
        (F.col("id") % 2).alias("g"), F.col("id").alias("v")
    )
    per_group = hll_registers(df, "v", group_cols=("g",))
    assert per_group.select("g").distinct().count() == 2
    # dropping the group via hll_merge == sketching the whole column
    whole = {(r.bucket, r.register) for r in hll_registers(df, "v").collect()}
    rolled = {(r.bucket, r.register)
              for r in hll_merge(per_group).collect()}
    assert whole == rolled


# -- Count-Min ---------------------------------------------------------------


@pytest.fixture(scope="module")
def zipf_words(spark):
    # word i appears (20 - i) times: known exact frequencies 20..1
    rows = [(f"w{i:02d}",) for i in range(20) for _ in range(20 - i)]
    return spark.createDataFrame(rows, "w string")


def test_cms_never_underestimates(spark, zipf_words):
    sk = cms_sketch(zipf_words, "w", depth=4, width=16)  # heavy collisions
    truth = zipf_words.groupBy("w").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_lookup(sk, truth, "w", depth=4, width=16)
    joined = truth.join(est, truth.w == est.key).collect()
    assert len(joined) == 20
    assert all(r.est_cnt >= r.true_cnt for r in joined)


def test_cms_exact_when_wide(spark, zipf_words):
    sk = cms_sketch(zipf_words, "w", depth=4, width=4096)
    truth = zipf_words.groupBy("w").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_lookup(sk, truth, "w", depth=4, width=4096)
    joined = truth.join(est, truth.w == est.key).collect()
    assert all(r.est_cnt == r.true_cnt for r in joined)


def test_cms_merge_is_cellwise_sum(spark, zipf_words):
    half_a = zipf_words.limit(100)
    half_b = zipf_words.exceptAll(half_a)
    sk_a = cms_sketch(half_a, "w", depth=4, width=32)
    sk_b = cms_sketch(half_b, "w", depth=4, width=32)
    merged = (
        sk_a.union(sk_b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_sketch(zipf_words, "w", depth=4, width=32)
    assert direct.exceptAll(merged).count() == 0
    assert merged.exceptAll(direct).count() == 0


def test_cms_sketch_bounded_size(spark, zipf_words):
    assert cms_sketch(zipf_words, "w", depth=4, width=16).count() <= 4 * 16


# -- Bloom -------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    members = _ids(spark, 0, 500)
    bits = bloom_bits(members, "v", num_bits=2048, num_hashes=5)
    probed = bloom_probe(bits, members, "v", num_bits=2048, num_hashes=5)
    assert probed.filter(~F.col("maybe_present")).count() == 0


def test_bloom_filters_most_non_members(spark):
    members = _ids(spark, 0, 500)
    strangers = _ids(spark, 10_000, 10_500)
    bits = bloom_bits(members, "v", num_bits=8192, num_hashes=5)
    probed = bloom_probe(bits, strangers, "v", num_bits=8192, num_hashes=5)
    fp = probed.filter(F.col("maybe_present")).count()
    # (1 - e^{-5*500/8192})^5 ~ 0.1% — allow 50x headroom
    assert fp <= 25


def test_bloom_bits_bounded(spark):
    bits = bloom_bits(_ids(spark, 0, 10_000), "v", num_bits=1024, num_hashes=5)
    assert bits.count() <= 1024


def test_bloom_union_is_bit_union(spark):
    a = _ids(spark, 0, 300)
    b = _ids(spark, 300, 600)
    direct = {r.bit for r in bloom_bits(a.union(b), "v").collect()}
    unioned = {r.bit for r in bloom_bits(a, "v").union(
        bloom_bits(b, "v")).distinct().collect()}
    assert direct == unioned


# -- exact-substring spans ---------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spans_keeper_is_first_occurrence(spark):
    shared = "a b c d e f g h i j"  # 10 tokens > w=8
    docs = _docs(spark, [(1, shared + " unique one"),
                         (2, shared + " other tail")])
    out = exact_substring_spans(docs, "text", "doc_id", w=8)
    rows = {(r.doc_id, r.span_start, r.span_end) for r in out.collect()}
    # doc 1 holds every keeper window; only doc 2 reports the span.
    # 10 shared tokens => windows at pos 0,1,2 => span [0, 10).
    assert rows == {(2, 0, 10)}


def test_spans_islands_split_on_gap(spark):
    rep = "p q r s t u v w"  # exactly 8 tokens = one window
    gap = "x1 y2 z3 k4 m5 n6 o7 q8 r9"  # 9 unique tokens: gap > 0
    docs = _docs(spark, [(1, rep + " " + gap + " " + rep),
                         (2, rep)])
    out = exact_substring_spans(docs, "text", "doc_id", w=8)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # doc 1 pos 0 window is the keeper (min id,pos); its second copy at
    # pos 17 and doc 2's copy both report. Two islands never merge.
    assert by_doc == {1: [(17, 25)], 2: [(0, 8)]}


def test_spans_adjacent_windows_merge(spark):
    # 12 shared tokens => dup windows at pos 0..4 in doc 2, all
    # overlapping => ONE maximal span [0, 12), n_windows = 5.
    shared = " ".join(f"t{i}" for i in range(12))
    docs = _docs(spark, [(1, shared), (2, shared)])
    out = exact_substring_spans(docs, "text", "doc_id", w=8).collect()
    assert [(r.doc_id, r.span_start, r.span_end, r.n_windows)
            for r in out] == [(2, 0, 12, 5)]


def test_spans_short_docs_ignored(spark):
    docs = _docs(spark, [(1, "only seven tokens here not enough now"),
                         (2, "only seven tokens here not enough now")])
    assert exact_substring_spans(docs, "text", "doc_id", w=8).count() == 0


def test_spans_char_floor_drops_short_spans(spark):
    # VERDICT r5 Next #6: min_match_chars restores Lee et al.'s 50-char
    # semantics. 8 single-char tokens reconstruct to 15 chars (8 + 7
    # spaces) — a duplicated span that an 8-TOKEN window reports but a
    # 50-CHAR floor must drop; 8 seven-char tokens reconstruct to 63
    # chars and survive.
    short = "a b c d e f g h"
    long = " ".join(f"tok{i:04d}" for i in range(8))  # 8 × 7 chars + 7
    docs = _docs(spark, [(1, short), (2, short), (3, long), (4, long)])
    unfloored = exact_substring_spans(docs, "text", "doc_id", w=8)
    assert {r.doc_id for r in unfloored.collect()} == {2, 4}
    floored = exact_substring_spans(
        docs, "text", "doc_id", w=8, min_match_chars=50
    ).collect()
    assert [(r.doc_id, r.span_start, r.span_end, r.span_chars)
            for r in floored] == [(4, 0, 8, 63)]


def test_spans_char_floor_length_invariant(spark):
    # property: EVERY reported span's reconstructed text length >= floor,
    # and the floored output is exactly the unfloored output filtered by
    # that reconstruction (no span invented, none resized)
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)] + ["verylongtoken%d" % i for i in range(6)]
    boiler = " ".join(rng.choice(vocab) for _ in range(14))
    rows = []
    for d in range(12):
        mid = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 10)))
        rows.append((d, f"{boiler} {mid} {boiler}"))
    docs = _docs(spark, rows)
    floor = 40
    floored = exact_substring_spans(
        docs, "text", "doc_id", w=5, min_match_chars=floor
    ).collect()
    assert floored, "fixture must produce at least one span"
    toks = {d: t.split() for d, t in rows}
    for r in floored:
        text = " ".join(toks[r.doc_id][r.span_start:r.span_end])
        assert len(text) == r.span_chars >= floor
    unfloored = exact_substring_spans(
        docs, "text", "doc_id", w=5
    ).collect()
    expect = {
        (r.doc_id, r.span_start, r.span_end)
        for r in unfloored
        if len(" ".join(toks[r.doc_id][r.span_start:r.span_end])) >= floor
    }
    assert {(r.doc_id, r.span_start, r.span_end) for r in floored} == expect


# -- exact suffix-bucket spans (round 14, VERDICT r13 Next #4) ----------------


def test_suffix_exact_keeper_and_char_offsets(spark):
    from pgferry_spark.operators.dedup import exact_substring_spans_exact

    shared = " ".join(f"tok{i:04d}" for i in range(8))  # 63 chars
    # tails diverge at their FIRST char after the separator, so the
    # maximal shared substring is exactly shared + " " = 64 chars
    docs = _docs(spark, [(1, shared + " AAAA1"),
                         (2, "pre00 " + shared + " BBBB2")])
    out = exact_substring_spans_exact(docs, "text", "doc_id", depth=50)
    rows = [(r.doc_id, r.span_start, r.span_end) for r in out.collect()]
    # doc 1 holds every keeper suffix; doc 2's copy starts at char 6
    # ("pre00 " is 6 chars). Flagged suffixes at offsets 6 and 14
    # (tok0000 & tok0001 boundaries keep >= 50 shared chars; tok0002
    # keeps 47 + 1 = 48), so the span covers [6, 64) — within one token
    # of the true match end at 70.
    assert rows == [(2, 6, 64)]


def test_suffix_exact_long_token_dup_vs_window_contract(spark):
    """The headline gap between the w-token window and the 50-char
    suffix bucket, both directions: a 4-token 71-char duplicate is
    invisible to w=8 (fewer than 8 tokens) but MUST be flagged at the
    paper's char threshold; an 8-token 15-char repeat is flagged by the
    window but must NOT be at the char threshold."""
    from pgferry_spark.operators.dedup import (
        exact_substring_spans,
        exact_substring_spans_exact,
    )

    longdup = ("Lorem-ipsum-dolor sit-amet-consectetur "
               "adipiscing-elitum sed-do-eiusmodxyzab")  # 4 tokens, 77 chars
    short8 = "a b c d e f g h"  # 8 tokens, 15 chars
    docs = _docs(spark, [
        (1, "aaa " + longdup + " bbb"),
        (2, "ccc ddd " + longdup + " eee"),
        (3, "p q " + short8 + " r s t u v w x y z aa bb cc dd ee ff gg"),
        (4, short8 + " zz yy xx wwv uuu ttt sss rrr qqq ppp ooo nnn mmm"),
    ])
    window_ids = {
        r.doc_id
        for r in exact_substring_spans(docs, "text", "doc_id", w=8).collect()
    }
    exact_ids = {
        r.doc_id
        for r in exact_substring_spans_exact(
            docs, "text", "doc_id", depth=50
        ).collect()
    }
    assert 2 in exact_ids and 1 not in exact_ids  # keep-first on doc 1
    assert not window_ids & {1, 2}  # 4 tokens < w: window blind
    assert 4 in window_ids          # 8 tokens repeat: window flags it
    assert not exact_ids & {3, 4}   # 15 chars < 50: below paper threshold


def test_suffix_exact_soundness_every_window_duplicated(spark):
    """Soundness: the 50-char window at every flagged start offset
    occurs at least twice corpus-wide in the normalized texts (spans
    are unions of PROVEN duplicate windows — no false positives)."""
    import random

    from pgferry_spark.operators.dedup import exact_substring_spans_exact

    rng = random.Random(41)
    vocab = [f"word{i:03d}" for i in range(40)]
    boiler = " ".join(rng.choice(vocab) for _ in range(12))  # ~95 chars
    rows = []
    for d in range(10):
        mid = " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 8)))
        rows.append((d, f"{boiler} {mid} {boiler}" if d % 2 else
                     " ".join(rng.choice(vocab) for _ in range(20))))
    docs = _docs(spark, rows)
    out = exact_substring_spans_exact(docs, "text", "doc_id", depth=50)
    spans = out.collect()
    assert spans, "fixture must produce spans"
    joined = {d: " ".join(t.split()) for d, t in rows}
    for r in spans:
        win = joined[r.doc_id][r.span_start:r.span_start + 50]
        assert len(win) == 50
        total = sum(
            txt.count(win) for txt in joined.values()
        )
        assert total >= 2, (r.doc_id, r.span_start, win)
        # every reported char is inside the doc
        assert 0 <= r.span_start < r.span_end <= len(joined[r.doc_id])


def test_suffix_exact_islands_split_and_short_docs_pruned(spark):
    from pgferry_spark.operators.dedup import exact_substring_spans_exact

    rep = " ".join(f"dup{i:05d}" for i in range(7))   # 62 chars
    gap = " ".join(f"g{i}x{i}" for i in range(12))     # unique, > depth
    docs = _docs(spark, [
        (1, rep + " " + gap + " " + rep),
        (2, rep),
        (3, "short doc"),                              # < 50 chars: pruned
        (4, ""),                                       # empty: pruned
    ])
    out = exact_substring_spans_exact(docs, "text", "doc_id", depth=50)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    # doc 1 pos-0 copy is the keeper; its second copy and doc 2's copy
    # report; the gap forbids island merge across the two rep blocks
    assert set(by_doc) == {1, 2}
    # rep boundaries with >= 50 shared chars remaining: offsets 0 and 9
    # (token "dup00000" is 8 chars); span = [0, 9 + 50)
    assert len(by_doc[1]) == 1 and by_doc[2] == [(0, 59)]
    # doc 1's flagged copy starts after "rep gap ": 62 + 1 + len(gap) + 1
    gstart = 62 + 1 + len(gap) + 1
    assert by_doc[1][0][0] == gstart


# -- Log-histogram quantile sketch -------------------------------------------


def _vals(spark, vals, col="v"):
    return spark.createDataFrame([(float(v),) for v in vals], [col])


def test_loghist_merge_equals_union_sketch(spark):
    from pgferry_spark.operators.sketches import loghist_counts, loghist_merge

    a = _vals(spark, [1.5 * i for i in range(1, 400)])
    b = _vals(spark, [2.25 * i for i in range(200, 700)])
    direct = {(r.e, r.sub, r.cnt)
              for r in loghist_counts(a.union(b), "v").collect()}
    merged = {(r.e, r.sub, r.cnt)
              for r in loghist_merge(loghist_counts(a, "v")
                                     .union(loghist_counts(b, "v"))).collect()}
    assert direct == merged


def test_loghist_bucket_count_bounded(spark):
    from pgferry_spark.operators.sketches import loghist_counts

    # 50k values spanning 6 orders of magnitude: bucket table stays tiny
    vals = [1.001 ** i for i in range(1, 5000)] * 10
    hist = loghist_counts(_vals(spark, vals), "v", k=16)
    assert hist.count() <= 63 * 16


def test_loghist_quantile_relative_error_bound(spark):
    from pgferry_spark.operators.sketches import loghist_counts, loghist_quantiles

    vals = sorted(7.0 + 3.1 * i for i in range(2000))
    k = 16
    hist = loghist_counts(_vals(spark, vals), "v", k=k)
    out = {r.q: r.est
           for r in loghist_quantiles(hist, (0.5, 0.95, 0.99), k=k).collect()}
    import math
    n = len(vals)
    for q, est in out.items():
        # type-1 (ceil-rank) order statistic lives inside the chosen
        # bucket: est (its lower bound) <= v_q < est * (1 + 1/k)
        v_q = vals[max(0, math.ceil(q * n) - 1)]
        assert est <= v_q + 1e-9
        assert v_q <= est * (1 + 1.0 / k) + 1e-9


def test_loghist_drops_nonpositive(spark):
    from pgferry_spark.operators.sketches import loghist_counts

    df = _vals(spark, [-5.0, 0.0, 0.001, 1.0, 2.0])
    # 0.001 scales (2dp) to 0 and is dropped with the nonpositives
    assert loghist_counts(df, "v").agg(
        F.sum("cnt")).collect()[0][0] == 2


# -- HLL intersection --------------------------------------------------------


def test_hll_intersect_identical_sets(spark):
    from pgferry_spark.operators.sketches import hll_intersect_estimate

    regs = hll_registers(_ids(spark, 0, 4000), "v")
    r = hll_intersect_estimate(regs, regs).collect()[0]
    # A == B: union == A, so intersect estimate == |A| estimate exactly
    assert r.est_intersect == r.est_a == r.est_b == r.est_union


def test_hll_intersect_tracks_overlap(spark):
    from pgferry_spark.operators.sketches import hll_intersect_estimate

    a = hll_registers(_ids(spark, 0, 4000), "v")
    b_half = hll_registers(_ids(spark, 2000, 6000), "v")
    b_disj = hll_registers(_ids(spark, 50000, 54000), "v")
    half = hll_intersect_estimate(a, b_half).collect()[0].est_intersect
    disj = hll_intersect_estimate(a, b_disj).collect()[0].est_intersect
    # true overlaps: 2000 and 0. Inclusion-exclusion compounds three
    # 6.5%-sigma estimates, so allow a wide but ordering-preserving band.
    assert abs(half - 2000) < 1200
    assert disj < half - 500


# -- CMS join-size estimate --------------------------------------------------


def test_cms_join_size_never_underestimates(spark):
    from pgferry_spark.operators.sketches import cms_join_size, cms_sketch

    # skewed key frequencies on both sides, narrow sketch so collisions exist
    a = spark.createDataFrame(
        [(k,) for k in [1] * 50 + [2] * 20 + list(range(3, 40))], ["k"]
    )
    b = spark.createDataFrame(
        [(k,) for k in [1] * 10 + [2] * 30 + list(range(20, 60))], ["k"]
    )
    true_size = a.join(b, "k").count()
    est = cms_join_size(
        cms_sketch(a, "k", depth=4, width=16),
        cms_sketch(b, "k", depth=4, width=16),
    ).collect()[0].est_join_size
    assert est >= true_size


def test_cms_join_size_exact_when_wide(spark):
    from pgferry_spark.operators.sketches import cms_join_size, cms_sketch

    a = _ids(spark, 0, 200, col="k")
    b = spark.createDataFrame([(k,) for k in range(100, 400)] * 3, ["k"])
    true_size = a.join(b, "k").count()
    # width >> distinct keys on both sides: inner product is exact
    est = cms_join_size(
        cms_sketch(a, "k", depth=4, width=65536),
        cms_sketch(b, "k", depth=4, width=65536),
    ).collect()[0].est_join_size
    assert est == true_size


def test_cms_join_size_disjoint_keys_small(spark):
    from pgferry_spark.operators.sketches import cms_join_size, cms_sketch

    a = _ids(spark, 0, 100, col="k")
    b = _ids(spark, 100000, 100100, col="k")
    est = cms_join_size(
        cms_sketch(a, "k", depth=4, width=4096),
        cms_sketch(b, "k", depth=4, width=4096),
    ).collect()[0].est_join_size
    # true join size 0; only collision mass remains, and min-over-rows
    # keeps it near zero for a sketch this wide
    assert est <= 5


def test_cms_join_size_disjoint_is_zero_not_null(spark):
    # ADVICE r5: a hash row whose cells are fully disjoint between the
    # two sketches has true dot = 0 and must participate in the MIN —
    # with width >> keys every row is collision-free, so the estimate is
    # exactly 0 (and non-NULL) for completely disjoint key sets.
    from pgferry_spark.operators.sketches import cms_join_size, cms_sketch

    a = _ids(spark, 0, 50, col="k")
    b = _ids(spark, 900000, 900050, col="k")
    row = cms_join_size(
        cms_sketch(a, "k", depth=4, width=65536),
        cms_sketch(b, "k", depth=4, width=65536),
    ).collect()[0]
    assert row.est_join_size == 0


def test_loghist_splits_equal_mass(spark):
    """The quartile estimates split the data into four ranges of equal
    row mass — range boundaries read off the sketch, not a sample."""
    from pgferry_spark.operators.sketches import (
        loghist_counts,
        loghist_quantiles,
    )

    vals = [5.0 + 2.7 * i for i in range(4000)]
    hist = loghist_counts(_vals(spark, vals), "v", k=32)
    splits = sorted(
        r.est
        for r in loghist_quantiles(hist, (0.25, 0.5, 0.75), k=32).collect()
    )
    assert len(splits) == 3
    import bisect
    masses = []
    prev = 0
    for s in splits + [float("inf")]:
        idx = bisect.bisect_left(sorted(vals), s)
        masses.append(idx - prev)
        prev = idx
    # each of the 4 ranges holds ~1000 rows within the bucket-width error
    for m in masses:
        assert abs(m - 1000) < 1000 / 8


def test_hll_rolling_distinct_window_law(spark):
    """The day-D estimate must equal the plain (non-rolling) estimate of
    the union of days D-6..D — rolling merge == direct sketch of the
    window, exactly (mergeability through time)."""
    import datetime

    from pgferry_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
        hll_rolling_distinct,
    )

    base = datetime.datetime(2026, 3, 1)
    rows = [
        (base + datetime.timedelta(days=d, hours=h % 24), d * 97 + h)
        for d in range(12)
        for h in range(60)
    ]
    df = spark.createDataFrame(rows, "ts: timestamp, user_id: long")
    roll = {
        r.day: (r.est_distinct, r.n_present)
        for r in hll_rolling_distinct(df, "ts", "user_id", window_days=7).collect()
    }
    check_day = (base + datetime.timedelta(days=10)).date()
    window = df.filter(
        (F.to_date("ts") >= datetime.date(2026, 3, 5))
        & (F.to_date("ts") <= check_day)
    )
    direct = hll_estimate(
        hll_registers(window, "user_id")
    ).collect()[0]
    assert roll[check_day] == (direct.est_distinct, direct.n_present)


def test_hll_rolling_distinct_day_range(spark):
    """Output covers first-day .. last-day + window - 1 (trailing
    windows keep estimating as data ages out)."""
    import datetime

    from pgferry_spark.operators.sketches import hll_rolling_distinct

    base = datetime.datetime(2026, 3, 1)
    df = spark.createDataFrame(
        [(base + datetime.timedelta(days=d), d) for d in range(3)],
        "ts: timestamp, user_id: long",
    )
    days = sorted(r.day for r in
                  hll_rolling_distinct(df, "ts", "user_id", 7).collect())
    assert days[0] == datetime.date(2026, 3, 1)
    assert days[-1] == datetime.date(2026, 3, 9)  # 3rd day + 6
    assert len(days) == 9


def test_cms_weighted_never_underestimates_and_merges(spark):
    from pgferry_spark.operators.sketches import cms_lookup, cms_sketch

    rows = [(k, w) for k, w in
            [(1, 500), (1, 300), (2, 50), (3, 999), (4, 1), (5, 70)]]
    df = spark.createDataFrame(rows, "k: long, w: long")
    sk = cms_sketch(df, "k", depth=4, width=8, weight_col="w")
    keys = df.select("k").distinct()
    est = {r.key: r.est_cnt
           for r in cms_lookup(sk, keys, "k", depth=4, width=8).collect()}
    true = {1: 800, 2: 50, 3: 999, 4: 1, 5: 70}
    for k, t in true.items():
        assert est[k] >= t
    # merge law: sum of two half-sketches == sketch of the union
    a, b = df.limit(3), df.subtract(df.limit(3))
    merged = (
        cms_sketch(a, "k", depth=4, width=8, weight_col="w")
        .union(cms_sketch(b, "k", depth=4, width=8, weight_col="w"))
        .groupBy("row", "col").sum("cnt")
        .withColumnRenamed("sum(cnt)", "cnt")
    )
    direct = {(r.row, r.col): r.cnt for r in sk.collect()}
    assert {(r.row, r.col): r.cnt for r in merged.collect()} == direct


def test_remove_exact_substrings_policy(spark):
    """Keep-first removal: the first corpus-wide occurrence survives
    token-identical; every later copy loses exactly the duplicated
    window's tokens; unique and empty docs pass through."""
    from pgferry_spark.operators.dedup import remove_exact_substrings

    boiler = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, "alpha " + boiler + " beta"),
            (2, "gamma " + boiler + " delta"),
            (3, boiler),  # a third full copy
            (4, "totally different words with no repeats inside here"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: (r.clean_text, r.n_tokens_removed)
           for r in remove_exact_substrings(docs, "text", "doc_id", w=8).collect()}
    assert out[1] == ("alpha " + boiler + " beta", 0)
    assert out[2] == ("gamma delta", 8)
    assert out[3] == ("", 8)
    assert out[4][1] == 0
    assert out[5] == ("", 0)
    # conservation: removed + surviving == original token count per doc
    for doc_id, text in [(1, "alpha " + boiler + " beta"),
                         (2, "gamma " + boiler + " delta"), (3, boiler)]:
        clean, removed = out[doc_id]
        n_orig = len(text.split())
        n_clean = len(clean.split()) if clean else 0
        assert n_clean + removed == n_orig


def test_bloom_prefilter_preserves_join_result(spark):
    """The production pattern: probe the big side against the small
    side's Bloom filter, drop non-members, THEN join. No false
    negatives => the filtered join equals the direct join exactly;
    the filter only sheds rows the join would drop anyway."""
    from pgferry_spark.operators.sketches import bloom_bits, bloom_probe

    small = spark.createDataFrame(
        [(k,) for k in range(0, 300, 3)], ["k"]
    )  # 100 keys
    big = spark.createDataFrame(
        [(k, k * 7) for k in range(1000)], ["k", "payload"]
    )
    direct = {(r.k, r.payload) for r in big.join(small, "k").collect()}

    bits = bloom_bits(small, "k", num_bits=2048, num_hashes=5)
    keep = bloom_probe(bits, big, "k", num_bits=2048, num_hashes=5).filter(
        "maybe_present"
    )
    filtered = big.join(keep.select(F.col("key").alias("k")), "k")
    via_bloom = {(r.k, r.payload) for r in filtered.join(small, "k").collect()}
    assert via_bloom == direct
    # and the pre-filter genuinely sheds most non-members before the join
    assert filtered.count() < big.count() / 2


def test_sketch_validation_flags_doctored_target(spark):
    """Content-shape migration validation: identical data gives
    identical sketch rows; dropped rows and scaled values move the
    distinct estimate and the quantiles respectively."""
    from pgferry_spark.plans.validation import sketch_validation

    src = spark.createDataFrame(
        [(i, 10.0 + (i % 500) * 2.5) for i in range(3000)], ["id", "v"]
    )
    same = {r.column: r for r in
            sketch_validation(src, src, ["id", "v"]).collect()}
    for r in same.values():
        assert r.reg_diff == 0
        assert r.est_distinct_src == r.est_distinct_dst
        assert r.p50_src == r.p50_dst and r.p99_src == r.p99_dst

    doctored = src.filter(F.col("id") % 3 != 0).withColumn(
        "v", F.col("v") * 100
    )
    bad = {r.column: r for r in
           sketch_validation(src, doctored, ["id", "v"]).collect()}
    assert bad["id"].est_distinct_dst < bad["id"].est_distinct_src * 0.8
    assert bad["v"].p50_dst > bad["v"].p50_src * 50
    # the decisive signal: any value-set change perturbs registers
    assert bad["id"].reg_diff > 0 and bad["v"].reg_diff > 0


def test_sketch_validation_keeps_empty_histogram_column(spark):
    """ADVICE r14 (high): a numeric column whose log-histogram is empty
    (all values non-positive or NULL) must KEEP its output row — with
    reg_diff and estimates present and NULL p50/p99 — not silently drop
    out of the report. A silently-omitted column would mask a real
    source/target divergence (its reg_diff vanishes with the row)."""
    from pgferry_spark.plans.validation import sketch_validation

    src = spark.createDataFrame(
        [(0.0,), (-1.0,), (None,)], "c double"
    )
    rows = {r.column: r for r in sketch_validation(src, src, ["c"]).collect()}
    assert set(rows) == {"c"}
    r = rows["c"]
    assert r.reg_diff == 0
    assert r.est_distinct_src is not None
    assert r.p50_src is None and r.p99_src is None and r.p50_dst is None

    # mixed case: the healthy column and the empty-histogram column both
    # report, and the divergence on the empty one is still visible
    src2 = spark.createDataFrame(
        [(i, 0.0) for i in range(200)], ["id", "z"]
    )
    bad2 = spark.createDataFrame(
        [(i, -1.0 * i) for i in range(200)], ["id", "z"]
    )
    rep = {r.column: r for r in
           sketch_validation(src2, bad2, ["id", "z"]).collect()}
    assert set(rep) == {"id", "z"}
    assert rep["id"].reg_diff == 0
    assert rep["z"].reg_diff > 0  # caught even with both histograms empty


def test_sketch_validation_string_cols(spark):
    """String columns validate by register comparison (no quantiles):
    identical sets give reg_diff 0; a case change is caught even at a
    cardinality where the raw HLL estimate is biased."""
    from pgferry_spark.plans.validation import sketch_validation

    src = spark.createDataFrame(
        [(i, f"source_{i % 20}") for i in range(2000)], ["id", "src_name"]
    )
    bad = src.withColumn("src_name", F.upper("src_name"))
    same = sketch_validation(src, src, [], string_cols=["src_name"]).collect()[0]
    assert same.reg_diff == 0 and same.p50_src is None
    diff = sketch_validation(src, bad, [], string_cols=["src_name"]).collect()[0]
    assert diff.reg_diff > 0


def test_loghist_rolling_equals_direct_window_hist(spark):
    """Rolling law for quantiles: the day-D rows equal the plain
    quantiles of a histogram built directly over days D-6..D —
    mergeability through time, exact equality."""
    import datetime

    from pgferry_spark.operators.sketches import (
        loghist_counts,
        loghist_quantiles,
        loghist_rolling_quantiles,
    )

    base = datetime.datetime(2026, 6, 1)
    rows = [
        (base + datetime.timedelta(days=d, hours=h % 24),
         20.0 + (d * 37 + h * 3) % 400)
        for d in range(10)
        for h in range(80)
    ]
    df = spark.createDataFrame(rows, "ts: timestamp, v: double")
    roll = {
        (r.day, r.q): r.est
        for r in loghist_rolling_quantiles(
            df, "ts", "v", window_days=7, qs=(0.5, 0.99)
        ).collect()
    }
    check_day = (base + datetime.timedelta(days=8)).date()
    window = df.filter(
        (F.to_date("ts") >= datetime.date(2026, 6, 3))
        & (F.to_date("ts") <= check_day)
    )
    direct = {
        r.q: r.est
        for r in loghist_quantiles(
            loghist_counts(window, "v"), (0.5, 0.99)
        ).collect()
    }
    assert roll[(check_day, 0.5)] == direct[0.5]
    assert roll[(check_day, 0.99)] == direct[0.99]
