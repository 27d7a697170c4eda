import pytest
from pyspark.sql import functions as F

from pgferry_spark.functions import text as T
from pgferry_spark.operators.curate import (
    dataset_split,
    pack_sequences,
    pii_card_gate,
    quota_sample,
)


def test_pii_scrub_redacts_each_kind(spark):
    rows = [
        ("mail me at jane.doe+x@example.co.uk please",),
        ("server at 10.0.255.3 responded",),
        ("call +1 (415) 555-0199 now",),
        ("clean text with no pii",),
    ]
    df = spark.createDataFrame(rows, "s: string")
    got = df.select(
        T.pii_scrub(F.col("s")).alias("t"), T.pii_count(F.col("s")).alias("n")
    ).collect()
    assert got[0]["t"] == "mail me at <EMAIL> please" and got[0]["n"] == 1
    assert got[1]["t"] == "server at <IP> responded" and got[1]["n"] == 1
    assert got[2]["t"] == "call <PHONE> now" and got[2]["n"] == 1
    assert got[3]["t"] == rows[3][0] and got[3]["n"] == 0


def test_pii_scrub_email_before_phone(spark):
    # digits inside a mailbox must not be half-eaten by the phone pattern
    df = spark.createDataFrame([("user20240815@host.com",)], "s: string")
    got = df.select(T.pii_scrub(F.col("s")).alias("t")).first()["t"]
    assert got == "<EMAIL>"


def test_luhn_valid_known_vectors(spark):
    # public ISO/IEC 7812 test numbers: three valid, one off-by-one
    # invalid, one odd-length valid, plus empty (never valid)
    rows = [
        ("4539578763621486", True),
        ("79927398713", True),
        ("4111111111111111", True),
        ("4111111111111112", False),
        ("1234567812345670", True),
        ("", False),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s: string")
    got = [r["ok"] for r in df.select(T.luhn_valid(F.col("s")).alias("ok")).collect()]
    assert got == [ok for _, ok in rows]


def test_card_candidates_extract_and_length_gate(spark):
    rows = [
        # spaced 16-digit card embedded mid-text
        ("pay 4539 5787 6362 1486 today", ["4539578763621486"]),
        # contiguous 13-digit run passes the gate
        ("x 4222222222222 y", ["4222222222222"]),
        # 12 digits: too short for the run pattern
        ("short 411111111111 run", []),
        ("no digits at all", []),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s: string")
    got = [r["c"] for r in df.select(T.card_candidates(F.col("s")).alias("c")).collect()]
    assert got == [c for _, c in rows]


def test_card_candidates_luhn_filters_phone_shaped_runs(spark):
    # a 13-digit phone-shaped run survives the regex + length gate but
    # fails the checksum — exactly the false positive Luhn exists to kill
    df = spark.createDataFrame(
        [("call 415 555 0199 123 4 ok",), ("pay 4539 5787 6362 1486",)],
        "s: string",
    )
    n_valid = df.select(
        F.size(F.filter(T.card_candidates(F.col("s")), T.luhn_valid)).alias("n")
    ).collect()
    assert [r["n"] for r in n_valid] == [0, 1]


def test_pii_card_gate_redacts_and_drops(spark):
    """Only the Luhn-VALID carrier is flagged; phone-shaped runs pass
    untouched; drop mode quarantines the carrier."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, t, "pay with 4539 5787 6362 1486 today"),      # valid card
        (2, t, "call 415 555 0199 123 4 maybe"),           # fails Luhn
        (3, t, "no digits in sight"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, ts: timestamp, text: string")

    def run(mode):
        return {r["doc_id"]: r for r in pii_card_gate(docs, mode=mode).collect()}

    got = run("redact")
    assert got[1]["n_valid_cards"] == 1 and "<CARD>" in got[1]["text"]
    assert "4539" not in got[1]["text"]
    assert got[2]["n_valid_cards"] == 0 and got[2]["text"] == rows[1][2]
    assert got[3]["n_valid_cards"] == 0

    assert set(run("drop")) == {2, 3}
    with pytest.raises(ValueError, match="unknown mode"):
        pii_card_gate(docs, mode="mask")


def test_curate_corpus_best_keeper_prefers_quality_over_id(spark):
    """Two layers: (a) inside curate_corpus, scrub-twin docs have
    identical post-scrub text and therefore identical quality, so both
    keepers agree on the min-id tie-break; (b) dedup_by_fingerprint with
    a score column keeps the max-score row (ties to min id) with every
    column intact."""
    from pgferry_spark.operators.curate import curate_corpus

    base = ("a perfectly reasonable document with a steady stream of "
            "ordinary words that keeps going for a while. ")
    rows = [
        (1, base + "contact a@x.com now"),
        (2, base + "contact b@y.org now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # identical post-scrub text -> identical quality -> tie -> min id on
    # both keepers
    for keeper, expect in (("min_id", {1}), ("best", {1})):
        got = {r.doc_id for r in
               curate_corpus(df, "text", "doc_id", keeper=keeper).collect()}
        assert got == expect, keeper

    # now a real quality split inside one dup group: dedup_by_fingerprint
    # directly (fingerprint on a shared key column pattern via text)
    from pgferry_spark.operators.dedup import dedup_by_fingerprint

    dup_rows = [
        (10, "shared duplicate content body", 0.2),
        (11, "shared duplicate content body", 0.9),
        (12, "shared duplicate content body", 0.9),
        (20, "a unique document", 0.5),
    ]
    ddf = spark.createDataFrame(dup_rows, "doc_id long, text string, q double")
    kept_min = {r.doc_id for r in
                dedup_by_fingerprint(ddf, "text", "doc_id").collect()}
    kept_best = {r.doc_id for r in
                 dedup_by_fingerprint(ddf, "text", "doc_id", "q").collect()}
    assert kept_min == {10, 20}
    assert kept_best == {11, 20}  # max q, tie 11<12 -> 11
    # every column of the kept row survives
    row = dedup_by_fingerprint(ddf, "text", "doc_id", "q") \
        .filter(F.col("doc_id") == 11).first()
    assert row.q == 0.9 and row.text == "shared duplicate content body"


def test_luhn_randomized_against_local_reference(spark):
    # 200 seeded random digit strings (lengths 1-24) in ONE Spark
    # round-trip, checked against a from-scratch local Luhn
    import random

    rng = random.Random(20260815)
    strs = [
        "".join(rng.choice("0123456789") for _ in range(rng.randint(1, 24)))
        for _ in range(200)
    ]

    def local_luhn(s):
        tot = 0
        for i, c in enumerate(reversed(s)):
            d = int(c)
            tot += d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
        return tot % 10 == 0

    df = spark.createDataFrame([(s,) for s in strs], "s: string")
    got = [r["ok"] for r in df.select(T.luhn_valid(F.col("s")).alias("ok")).collect()]
    assert got == [local_luhn(s) for s in strs]


def test_dataset_split_stable_and_complete(spark):
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = dataset_split(df, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # determinism: same ids -> same assignment on a re-built DataFrame
    again = {r["doc_id"]: r["split"] for r in dataset_split(df, "doc_id").collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again


def test_quota_sample_cap_and_order(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, lang: string, score: double")
    out = quota_sample(df, "lang", "score", "doc_id", 3)
    by_lang = {}
    for r in out.collect():
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert all(len(v) == 3 for v in by_lang.values())
    assert sorted(by_lang["en"]) == [34, 36, 38]  # top-3 even scores
    assert sorted(by_lang["fr"]) == [35, 37, 39]


def test_pack_sequences_bins(spark):
    rows = [(1, 100), (2, 100), (3, 100), (4, 250), (5, 10)]
    df = spark.createDataFrame(rows, "doc_id: long, n_tokens: long")
    out = {r["doc_id"]: r["bin_id"] for r in pack_sequences(df, "doc_id", "n_tokens", 256).collect()}
    # cumsum-before: 0,100,200,300,550 -> bins 0,0,0,1,2
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2}


def test_pack_sequences_sharded(spark):
    rows = [(1, "a", 200), (2, "b", 200), (3, "a", 200), (4, "b", 200)]
    df = spark.createDataFrame(rows, "doc_id: long, shard: string, n_tokens: long")
    out = {r["doc_id"]: r["bin_id"] for r in pack_sequences(df, "doc_id", "n_tokens", 256, shard_col="shard").collect()}
    # each shard packs independently: cumsum-before per shard = 0,200
    assert out == {1: 0, 2: 0, 3: 0, 4: 0}


class TestTokenBudget:
    def test_matches_global_cumsum_semantics(self, spark):
        from pgferry_spark.operators.curate import select_to_token_budget

        # qualities: two full levels fit, the third is partial, rest excluded
        rows = [
            (1, 0.9, 100), (2, 0.9, 100),     # level 0.9: 200
            (3, 0.8, 150),                     # level 0.8: 150 (350 total)
            (4, 0.7, 100), (5, 0.7, 100), (6, 0.7, 100),  # partial: room for 2
            (7, 0.6, 10),                      # beyond threshold level
        ]
        df = spark.createDataFrame(rows, "doc_id long, quality double, n_toks long")
        got = sorted(
            r.doc_id
            for r in select_to_token_budget(df, "quality", "n_toks", "doc_id", 550).collect()
        )
        # 200 + 150 = 350 spent; remainder 200 admits docs 4,5 (id order); 6
        # would exceed, 7 is monotonically excluded even though it would fit
        assert got == [1, 2, 3, 4, 5]

    def test_everything_fits(self, spark):
        from pgferry_spark.operators.curate import select_to_token_budget

        df = spark.createDataFrame(
            [(1, 0.5, 10), (2, 0.4, 10)], "doc_id long, quality double, n_toks long"
        )
        got = select_to_token_budget(df, "quality", "n_toks", "doc_id", 1000).collect()
        assert len(got) == 2


class TestStratifiedSplit:
    def test_exact_per_group_sizes(self, spark):
        from pgferry_spark.operators.curate import stratified_split

        rows = [(i, "en") for i in range(100)] + [(1000 + i, "de") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        got = stratified_split(df, "lang", "doc_id").collect()
        from collections import Counter
        en = Counter(r.split for r in got if r.lang == "en")
        de = Counter(r.split for r in got if r.lang == "de")
        # exact: ceil(100*0.8)=80 train, ceil(100*0.9)-80=10 val, 10 test
        assert (en["train"], en["val"], en["test"]) == (80, 10, 10)
        assert (de["train"], de["val"], de["test"]) == (8, 1, 1)

    def test_deterministic(self, spark):
        from pgferry_spark.operators.curate import stratified_split

        df = spark.createDataFrame([(i, "en") for i in range(50)], "doc_id long, lang string")
        a = {(r.doc_id, r.split) for r in stratified_split(df, "lang", "doc_id").collect()}
        b = {(r.doc_id, r.split) for r in stratified_split(df, "lang", "doc_id").collect()}
        assert a == b


class TestTokenBudgetEquivalence:
    def test_matches_global_cumsum_on_random_corpora(self, spark):
        """The histogram-threshold plan must equal the naive global
        (quality DESC, id ASC) running-sum prefix on arbitrary inputs,
        including duplicate quality levels and budget edge cases."""
        import random

        from pgferry_spark.operators.curate import select_to_token_budget

        rng = random.Random(42)
        for trial in range(5):
            rows = [
                (i, round(rng.choice([0.1, 0.25, 0.5, 0.5, 0.75, 0.9]), 4),
                 rng.randint(1, 50))
                for i in range(rng.randint(1, 120))
            ]
            total = sum(t for _, _, t in rows)
            budget = rng.randint(0, total + 10)
            df = spark.createDataFrame(rows, "doc_id long, quality double, n_toks long")
            got = sorted(
                r.doc_id
                for r in select_to_token_budget(df, "quality", "n_toks", "doc_id", budget).collect()
            )
            # reference: naive global prefix
            ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
            want, cum = [], 0
            for i, _, t in ordered:
                cum += t
                if cum > budget:
                    break
                want.append(i)
            assert got == sorted(want), f"trial {trial} budget {budget}"


class TestMixtureSample:
    def _df(self, spark):
        rows = [(i, "src%d" % (i % 3)) for i in range(60)]
        return spark.createDataFrame(rows, "id: long, src: string")

    def test_quotas_exact(self, spark):
        from pgferry_spark.operators.curate import mixture_sample

        out = mixture_sample(
            self._df(spark), "src", "id", {"src0": 0.5, "src1": 0.25}, total=16
        )
        by_src = {r["src"]: r["n"] for r in
                  out.groupBy("src").agg(F.count("*").alias("n")).collect()}
        assert by_src == {"src0": 8, "src1": 4}  # src2 absent: weight 0

    def test_deterministic_and_prefix_stable(self, spark):
        from pgferry_spark.operators.curate import mixture_sample

        df = self._df(spark)
        a = mixture_sample(df, "src", "id", {"src0": 0.5}, total=10)
        b = mixture_sample(df, "src", "id", {"src0": 0.5}, total=20)
        small = {r["id"] for r in a.collect()}
        big = {r["id"] for r in b.collect()}
        # md5-order draw: a smaller mixture is a strict prefix of a larger one
        assert small <= big

    def test_quota_exceeding_group_size_takes_all(self, spark):
        from pgferry_spark.operators.curate import mixture_sample

        out = mixture_sample(
            self._df(spark), "src", "id", {"src0": 1.0}, total=100
        )
        assert out.count() == 20  # only 20 src0 rows exist


class TestTrainingShards:
    def test_manifest_accounts_for_every_row(self, spark):
        from pgferry_spark.operators.curate import shard_manifest

        rows = [(i, "w " * (i % 7 + 1)) for i in range(40)]
        df = spark.createDataFrame(rows, "id: long, text: string")
        m = shard_manifest(df, "id", "text", n_shards=4).collect()
        assert sum(r["docs"] for r in m) == 40
        assert sum(r["tokens"] for r in m) == sum(i % 7 + 1 for i in range(40))
        assert {r["shard"] for r in m} <= set(range(4))

class TestTemperatureSample:
    def _df(self, spark):
        # 60/30/10 natural distribution
        rows = ([(i, "big") for i in range(60)]
                + [(100 + i, "mid") for i in range(30)]
                + [(200 + i, "small") for i in range(10)])
        return spark.createDataFrame(rows, "id: long, g: string")

    def test_alpha_one_is_natural_alpha_zero_is_uniform(self, spark):
        from pgferry_spark.operators.curate import temperature_sample

        df = self._df(spark)
        nat = temperature_sample(df, "g", "id", alpha=1.0, total=50)
        by_g = {r["g"]: r["n"] for r in
                nat.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert by_g == {"big": 30, "mid": 15, "small": 5}

        uni = temperature_sample(df, "g", "id", alpha=0.0, total=30)
        by_g = {r["g"]: r["n"] for r in
                uni.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert by_g == {"big": 10, "mid": 10, "small": 10}

    def test_alpha_half_upsamples_small_groups(self, spark):
        from pgferry_spark.operators.curate import temperature_sample

        out = temperature_sample(self._df(spark), "g", "id", alpha=0.5, total=50)
        by_g = {r["g"]: r["n"] for r in
                out.groupBy("g").agg(F.count("*").alias("n")).collect()}
        nat_small_share = 10 / 100
        assert by_g["small"] / sum(by_g.values()) > nat_small_share
        assert by_g["big"] > by_g["mid"] > by_g["small"]  # order preserved
        assert sum(by_g.values()) <= 50                   # floor never overdraws

    def test_deterministic(self, spark):
        from pgferry_spark.operators.curate import temperature_sample

        df = self._df(spark)
        a = sorted(r["id"] for r in temperature_sample(df, "g", "id").collect())
        b = sorted(r["id"] for r in temperature_sample(df, "g", "id").collect())
        assert a == b


def test_weighted_sample_prefers_heavy_rows(spark):
    from pgferry_spark.operators.curate import weighted_sample

    # one row with overwhelming weight + many light rows: the heavy row is
    # (near-)always in a small sample; zero/negative weights excluded
    rows = [(0, 10_000_000)] + [(i, 1) for i in range(1, 200)] + [(500, 0)]
    df = spark.createDataFrame(rows, "id: long, w: long")
    got = weighted_sample(df, "id", "w", n=20).collect()
    ids = [r["id"] for r in got]
    assert len(ids) == 20 and 0 in ids and 500 not in ids
    keys = [r["sample_key"] for r in got]
    assert keys == sorted(keys, reverse=True)
    # deterministic
    again = [r["id"] for r in weighted_sample(df, "id", "w", n=20).collect()]
    assert ids == again


def test_curate_corpus_end_to_end(spark):
    """The full DAG: PII scrubbed before fingerprinting (PII twins dedup),
    junk gated, every survivor has a split and a shard."""
    from pgferry_spark.operators.curate import curate_corpus

    good = ("a sensible document, with enough words to pass the gate. "
            "it continues for a while and stays reasonable.")
    rows = [
        (1, good + " contact alice@example.com for details."),
        (2, good + " contact bob@other.org for details."),   # PII twin of 1
        (3, "!!!! ???? ;;;; >>>> ::::"),                     # junk
        (4, "another acceptable document with plenty of ordinary words "
            "to keep the quality score comfortably above the bar."),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in
           curate_corpus(df, "text", "doc_id", min_quality=0.4).collect()}
    assert set(got) == {1, 4}          # twin 2 deduped, junk 3 gated
    for r in got.values():
        assert r["split"] in {"train", "val", "test"}
        assert 0 <= r["shard"] < 8
        assert "<EMAIL>" in r["text"] or "@" not in r["text"]


class TestPercentileCalibrate:
    def test_uniform_signal_maps_to_uniform_pcts(self, spark):
        from pyspark.sql import functions as F

        from pgferry_spark.operators.curate import percentile_calibrate

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 101)], "id long, s double"
        )
        got = {r.id: r.pct_s for r in percentile_calibrate(df, "id", ["s"]).collect()}
        # step-CDF: each distinct value sits in its own bin -> pct == i/100
        assert got[1] == 0.01 and got[50] == 0.5 and got[100] == 1.0
        comp = {r.id: r.composite for r in percentile_calibrate(df, "id", ["s"]).collect()}
        assert comp == got  # single signal: composite == its pct

    def test_composite_blends_two_signals(self, spark):
        from pgferry_spark.operators.curate import percentile_calibrate

        # a: ascending; b: descending -> composite flat at ~0.5 (within a
        # bin-resolution step)
        df = spark.createDataFrame(
            [(i, float(i), float(100 - i)) for i in range(1, 100)],
            "id long, a double, b double",
        )
        rows = percentile_calibrate(df, "id", ["a", "b"]).collect()
        for r in rows:
            assert abs(r.composite - 0.5) < 0.02
        r1 = [r for r in rows if r.id == 1][0]
        assert r1.pct_a < 0.05 and r1.pct_b == 1.0

    def test_constant_signal_calibrates_to_one(self, spark):
        from pgferry_spark.operators.curate import percentile_calibrate

        df = spark.createDataFrame([(1, 7.0), (2, 7.0)], "id long, s double")
        got = {r.id: r.pct_s for r in percentile_calibrate(df, "id", ["s"]).collect()}
        assert got == {1: 1.0, 2: 1.0}


class TestRfmFeatures:
    def test_hand_computed_percentiles(self, spark):
        import datetime as dt

        from pgferry_spark.operators.curate import rfm_features

        as_of = "2024-02-01 00:00:00"
        t = dt.datetime(2024, 1, 31)  # 1 day before as_of
        rows = [
            # user 1: recent, frequent, big spender -> top percentile on all
            *[(1, t, 100.0)] * 5,
            # user 2: old, rare, small
            (2, dt.datetime(2024, 1, 1), 1.0),
            # user 3: middle
            (3, dt.datetime(2024, 1, 15), 10.0),
            (3, dt.datetime(2024, 1, 16), 10.0),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        got = {r.user_id: r for r in rfm_features(df, "user_id", "ts", "value", as_of).collect()}
        # user 1 dominates every signal -> composite 1.0
        assert got[1].pct_recency == got[1].pct_frequency == got[1].pct_monetary == 1.0
        assert got[1].composite == 1.0
        # user 2 is the floor on every signal
        assert got[2].composite < got[3].composite < 1.0
        # recency negated: user 1's raw recency (-1 day) is the max
        assert got[2].pct_recency < got[3].pct_recency


class TestClusterSafeSplit:
    def test_clusters_never_straddle_splits(self, spark):
        from pgferry_spark.operators.curate import cluster_safe_split, dataset_split

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(200)], "doc_id: long, text: string"
        )
        # near-dup clusters: {0,1,2}, {10,11}, rest singleton
        clusters = spark.createDataFrame(
            [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10)],
            "doc_id: long, cluster_id: long",
        )
        out = {r["doc_id"]: r["split"]
               for r in cluster_safe_split(df, clusters, "doc_id").collect()}
        assert len(out) == 200
        assert out[0] == out[1] == out[2]      # cluster atomic
        assert out[10] == out[11]
        # singletons match plain dataset_split exactly (drop-in upgrade)
        plain = {r["doc_id"]: r["split"] for r in dataset_split(df, "doc_id").collect()}
        for i in range(200):
            if i not in (0, 1, 2, 10, 11):
                assert out[i] == plain[i]
        # and cluster members share the REPRESENTATIVE's bucket
        assert out[1] == plain[0]

    def test_split_proportions_roughly_hold(self, spark):
        from pgferry_spark.operators.curate import cluster_safe_split

        df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id: long")
        empty = spark.createDataFrame([], "doc_id: long, cluster_id: long")
        out = cluster_safe_split(df, empty, "doc_id").groupBy("split").count()
        got = {r["split"]: r["count"] for r in out.collect()}
        assert 700 < got["train"] < 900
        assert 50 < got["val"] < 160
        assert 50 < got["test"] < 160


class TestNegativeSamples:
    def test_deterministic_no_self_k_slots(self, spark):
        from pgferry_spark.operators.curate import negative_samples

        df = spark.createDataFrame([(i,) for i in range(100)], "doc_id: long")
        a = {(r["anchor_id"], r["neg_slot"]): r["negative_id"]
             for r in negative_samples(df, "doc_id", k=3, n_buckets=16).collect()}
        b = {(r["anchor_id"], r["neg_slot"]): r["negative_id"]
             for r in negative_samples(df, "doc_id", k=3, n_buckets=16).collect()}
        assert a == b  # rerun-stable, no RNG state
        assert all(neg != anc for (anc, _), neg in a.items())
        # with 16 buckets over 100 docs every bucket is non-trivially
        # populated: every anchor fills (almost) all 3 slots
        per_anchor = {}
        for (anc, _), _neg in a.items():
            per_anchor[anc] = per_anchor.get(anc, 0) + 1
        assert len(per_anchor) == 100
        assert min(per_anchor.values()) >= 2

    def test_seed_changes_pairs(self, spark):
        from pgferry_spark.operators.curate import negative_samples

        df = spark.createDataFrame([(i,) for i in range(100)], "doc_id: long")
        a = {(r["anchor_id"], r["neg_slot"], r["negative_id"])
             for r in negative_samples(df, "doc_id", k=2, seed=1).collect()}
        b = {(r["anchor_id"], r["neg_slot"], r["negative_id"])
             for r in negative_samples(df, "doc_id", k=2, seed=2).collect()}
        assert a != b


class TestCurationFunnel:
    def test_counts_agree_with_the_actual_dag(self, spark):
        from pgferry_spark.operators.curate import curate_corpus, curation_funnel
        from pgferry_spark.sources.parquet import read_parquet

        d = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
        funnel = curation_funnel(d, "text", "doc_id", min_quality=0.3).first()
        assert funnel["n_input"] == d.count()
        assert funnel["n_input"] >= funnel["n_quality_pass"] >= funnel["n_after_dedup"]
        # the funnel's dedup count IS the curated corpus size, and the
        # splits partition it exactly
        curated = curate_corpus(d, "text", "doc_id", min_quality=0.3)
        assert funnel["n_after_dedup"] == curated.count()
        assert (funnel["n_train"] + funnel["n_val"] + funnel["n_test"]
                == funnel["n_after_dedup"])
        splits = {r["split"]: r["count"]
                  for r in curated.groupBy("split").count().collect()}
        assert funnel["n_train"] == splits.get("train", 0)
        assert funnel["n_val"] == splits.get("val", 0)
        assert funnel["n_test"] == splits.get("test", 0)


class TestSourceDatasheet:
    def test_agrees_with_dup_rate_report(self, spark):
        from pgferry_spark.operators.curate import source_datasheet
        from pgferry_spark.operators.dedup import dup_rate_by_source
        from pgferry_spark.sources.parquet import read_parquet

        d = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
        sheet = {r["source"]: r
                 for r in source_datasheet(d, "text", "doc_id", "source").collect()}
        ref = {r["source"]: r
               for r in dup_rate_by_source(d, "text", "doc_id", "source").collect()}
        assert set(sheet) == set(ref)
        for s in sheet:
            assert sheet[s]["docs"] == ref[s]["docs"]
            assert sheet[s]["dup_rate"] == ref[s]["dup_rate"]
            assert sheet[s]["total_tokens"] > 0
            assert 0.0 <= sheet[s]["mean_quality"] <= 1.0


# --- round-5: fractional-epoch mixture -------------------------------------


def test_mixture_epochs_copy_counts_and_determinism(spark):
    from pgferry_spark.operators.curate import mixture_epochs

    df = spark.createDataFrame(
        [(i, "wiki") for i in range(100)]
        + [(1000 + i, "web") for i in range(100)]
        + [(2000 + i, "junk") for i in range(50)],
        "doc_id long, source string",
    )
    out = mixture_epochs(df, "source", "doc_id", {"wiki": 2.5, "web": 0.4})
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    # wiki: everyone gets 2 copies; ~50% an md5-selected third
    wiki_counts = {}
    for r in by_src["wiki"]:
        wiki_counts[r["doc_id"]] = wiki_counts.get(r["doc_id"], 0) + 1
    assert all(c in (2, 3) for c in wiki_counts.values())
    assert 200 <= len(by_src["wiki"]) <= 300
    # web: 0 or 1 copies, expectation 40
    web_counts = {}
    for r in by_src["web"]:
        web_counts[r["doc_id"]] = web_counts.get(r["doc_id"], 0) + 1
    assert all(c == 1 for c in web_counts.values())
    assert 20 <= len(by_src["web"]) <= 60
    # unlisted source contributes nothing; copy_idx dense from 0
    assert "junk" not in by_src
    assert all(r["copy_idx"] >= 0 for r in rows)
    # rerun-stable: pure function of the data
    again = {(r["doc_id"], r["copy_idx"]) for r in
             mixture_epochs(df, "source", "doc_id", {"wiki": 2.5, "web": 0.4}).collect()}
    assert again == {(r["doc_id"], r["copy_idx"]) for r in rows}


def test_mixture_epochs_knob_stability(spark):
    """Raising a source's epochs must only ADD copies — the md5 cohort
    that had the extra copy at 1.2 keeps it at 1.7 (no resample churn)."""
    from pgferry_spark.operators.curate import mixture_epochs

    df = spark.createDataFrame(
        [(i, "w") for i in range(200)], "doc_id long, source string"
    )
    low = {(r["doc_id"], r["copy_idx"]) for r in
           mixture_epochs(df, "source", "doc_id", {"w": 1.2}).collect()}
    high = {(r["doc_id"], r["copy_idx"]) for r in
            mixture_epochs(df, "source", "doc_id", {"w": 1.7}).collect()}
    assert low <= high


def test_mixture_epochs_whole_number_exact(spark):
    from pgferry_spark.operators.curate import mixture_epochs

    df = spark.createDataFrame(
        [(i, "w") for i in range(30)], "doc_id long, source string"
    )
    out = mixture_epochs(df, "source", "doc_id", {"w": 3.0}).collect()
    assert len(out) == 90
    assert {r["copy_idx"] for r in out} == {0, 1, 2}


def test_mixture_epochs_rejects_negative(spark):
    import pytest

    from pgferry_spark.operators.curate import mixture_epochs

    df = spark.createDataFrame([(1, "w")], "doc_id long, source string")
    with pytest.raises(ValueError, match="negative"):
        mixture_epochs(df, "source", "doc_id", {"w": -1.0})


# -- compaction_plan ---------------------------------------------------------


def _manifest(spark, sizes, group="t"):
    return spark.createDataFrame(
        [(group, i, int(s)) for i, s in enumerate(sizes)],
        ["tbl", "file_id", "bytes"],
    )


def test_compaction_bins_bounded(spark):
    from pgferry_spark.operators.curate import compaction_plan

    sizes = [30, 80, 10, 50, 120, 40, 40, 40, 5, 5, 5, 200, 10]
    out = compaction_plan(
        _manifest(spark, sizes), "bytes", "file_id", 100, group_cols=("tbl",)
    ).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin, []).append(r)
    for rows in by_bin.values():
        total = sum(r.bytes for r in rows)
        biggest = max(r.bytes for r in rows)
        # ordered next-fit: a bin never exceeds target + one file
        assert total < 100 + biggest + 1


def test_compaction_preserves_order(spark):
    from pgferry_spark.operators.curate import compaction_plan

    out = (
        compaction_plan(
            _manifest(spark, [10] * 20), "bytes", "file_id", 35,
            group_cols=("tbl",),
        )
        .orderBy("file_id")
        .collect()
    )
    bins = [r.bin for r in out]
    assert bins == sorted(bins)  # order-preserving: bin ids nondecreasing
    assert bins[0] == 0 and bins[-1] == (10 * 19) // 35


def test_compaction_oversize_file_own_bin(spark):
    from pgferry_spark.operators.curate import compaction_plan

    out = {
        r.file_id: r.bin
        for r in compaction_plan(
            _manifest(spark, [500, 10, 10]), "bytes", "file_id", 100,
            group_cols=("tbl",),
        ).collect()
    }
    # the 500-byte file occupies bins 0..4's span alone; followers start at 5
    assert out[0] == 0 and out[1] == 5 and out[2] == 5


def test_compaction_groups_independent(spark):
    from pgferry_spark.operators.curate import compaction_plan

    m = _manifest(spark, [60, 60], "a").union(_manifest(spark, [60, 60], "b"))
    out = compaction_plan(m, "bytes", "file_id", 100, group_cols=("tbl",))
    assert {(r.tbl, r.file_id, r.bin) for r in out.collect()} == {
        ("a", 0, 0), ("a", 1, 0), ("b", 0, 0), ("b", 1, 0)
    }
