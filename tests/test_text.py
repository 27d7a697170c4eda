from pyspark.sql import functions as F

from pgferry_spark.functions import text as T


def vals(spark, expr, rows, schema="s: string"):
    df = spark.createDataFrame(rows, schema)
    return [r["o"] for r in df.select(expr.alias("o")).collect()]


def test_token_count(spark):
    got = vals(spark, T.token_count(F.col("s")), [("a b  c",), ("",), ("  ",), ("one",)])
    assert got == [3, 0, 0, 1]


def test_avg_token_len(spark):
    got = vals(spark, T.avg_token_len(F.col("s")), [("ab cd",), ("",)])
    assert got == [2.0, None]


def test_punct_ratio(spark):
    got = vals(spark, F.round(T.punct_ratio(F.col("s")), 2), [("a.b!",), ("abcd",)])
    assert got == [0.5, 0.0]


def test_lang_id(spark):
    rows = [
        ("the cat and the dog is in a tree for fun",),
        ("der hund ist nicht auf das und der die",),
        ("le chat est dans la maison pour le chien",),
        ("xyzzy qwerty plugh",),
    ]
    got = vals(spark, T.lang_id_t(T.tokens(F.lower(F.col("s")))), rows)
    assert got == ["en", "de", "fr", "und"]


def test_fingerprint_normalizes_case_ws(spark):
    got = vals(
        spark,
        T.fingerprint(F.col("s")),
        [("Hello  World",), ("hello world",), ("different",)],
    )
    assert got[0] == got[1] != got[2]


def test_quality_score_bounds(spark):
    got = vals(spark, T.quality_score(F.col("s")), [("word " * 120,), ("!!!.,;;;",)])
    assert 0.9 <= got[0] <= 1.0
    assert got[1] <= 0.4

def test_bpe_token_count(spark):
    rows = [
        ("Hello, world! 123",),  # Hello | , | _world | ! | _123 -> 5
        ("",),
        ("abc",),
        ("a1b",),  # a | 1 | b -> 3
    ]
    got = vals(spark, T.bpe_token_count(F.col("s")), rows)
    assert got == [5, 0, 1, 3]


def test_bpe_tokens_roundtrip(spark):
    # concatenating the pretokens reconstructs the text minus leading ws runs
    rows = [("The quick, brown fox 42 jumps!",)]
    got = vals(spark, T.bpe_tokens(F.col("s")), rows)
    assert "".join(got[0]) == rows[0][0]


def test_winnow_match_completeness(spark):
    # any shared substring of length >= k+w-1 (=8) guarantees a shared
    # fingerprint — the winnowing paper's core invariant
    shared = "common-phrase-here"
    rows = [("AAAA " + shared + " tail one",), ("zz " + shared + " other ZZ",)]
    got = vals(spark, T.winnow_fingerprints(F.col("s"), k=5, w=4), rows)
    assert set(got[0]) & set(got[1])


def test_winnow_short_and_empty(spark):
    got = vals(spark, T.winnow_fingerprints(F.col("s"), k=5, w=4), [("",), ("abc",), ("abcdef",)])
    assert got[0] == [] and got[1] == []
    assert len(got[2]) == 1  # m=2 hashes <= w -> single global min


def test_inverted_index_pairs(spark):
    df = spark.createDataFrame(
        [(1, "spark window table"), (2, "window window fast"), (3, "spark")],
        "doc_id: long, text: string",
    )
    rows = T.inverted_index_pairs(df, "text", "doc_id").collect()
    by = {(r["token"], r["doc_id"]): r for r in rows}
    assert by[("window", 2)]["tf"] == 2
    assert by[("window", 1)]["doc_freq"] == 2 and by[("window", 2)]["doc_freq"] == 2
    assert by[("spark", 1)]["posting_rank"] == 1 and by[("spark", 3)]["posting_rank"] == 2


def test_keyword_search_all_conjunctive(spark):
    df = spark.createDataFrame(
        [(1, "spark window table"), (2, "window only"), (3, "Spark WINDOW twice window")],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r["total_tf"] for r in T.keyword_search_all(df, "text", "doc_id", ["spark", "window"]).collect()}
    assert got == {1: 2, 3: 3}  # doc 2 lacks 'spark'


def test_winnow_batch_udf_matches_expression(spark):
    """winnow_fingerprints_batch must be bit-identical to the Column
    expression — same md5-prefix hashes, same window minima, same
    first-occurrence distinct order — including unicode and edge lengths."""
    rows = [
        ("",),
        ("abc",),
        ("abcdef",),
        ("the quick brown fox jumps over the lazy dog",),
        ("aaaaaaaaaaaaaaaa",),
        ("héllo wörld ünicode text with accents répeated héllo wörld",),
        ("shared substring alpha beta gamma delta epsilon",),
    ]
    df = spark.createDataFrame(rows, "s: string")
    expr = df.select(T.winnow_fingerprints(F.col("s"), k=5, w=4).alias("v")).collect()
    udf = df.select(T.winnow_fingerprints_batch(k=5, w=4)(F.col("s")).alias("v")).collect()
    assert [r["v"] for r in expr] == [r["v"] for r in udf]


class TestChunkDocuments:
    def test_windows_overlap_and_tail(self, spark):
        from pgferry_spark.functions.text import chunk_documents

        words = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, words), (2, "short doc"), (3, "  ")],
            "id: long, text: string",
        )
        got = {}
        for r in chunk_documents(df, "text", "id", max_tokens=4, overlap=1).collect():
            got.setdefault(r["id"], []).append(r)
        for chunks in got.values():
            chunks.sort(key=lambda r: r["chunk_idx"])

        # stride 3 over 10 tokens -> ceil((10-1)/3) = 3 chunks
        c1 = got[1]
        assert [c["chunk_idx"] for c in c1] == [0, 1, 2]
        assert c1[0]["chunk_text"] == "w0 w1 w2 w3"
        assert c1[1]["chunk_text"] == "w3 w4 w5 w6"   # 1-token overlap
        assert c1[2]["chunk_text"] == "w6 w7 w8 w9"
        assert [c["n_tokens"] for c in c1] == [4, 4, 4]
        # short doc: exactly one (short) chunk
        assert len(got[2]) == 1 and got[2][0]["chunk_text"] == "short doc"
        assert got[2][0]["n_tokens"] == 2
        # blank doc excluded
        assert 3 not in got

    def test_every_token_covered(self, spark):
        from pgferry_spark.functions.text import chunk_documents

        words = " ".join(f"t{i}" for i in range(23))
        df = spark.createDataFrame([(1, words)], "id: long, text: string")
        chunks = chunk_documents(df, "text", "id", max_tokens=7, overlap=2).collect()
        seen = set()
        for c in chunks:
            seen.update(c["chunk_text"].split())
        assert seen == {f"t{i}" for i in range(23)}

    def test_bad_overlap_raises(self, spark):
        import pytest as _pytest

        from pgferry_spark.functions.text import chunk_documents

        df = spark.createDataFrame([(1, "x")], "id: long, text: string")
        with _pytest.raises(ValueError):
            chunk_documents(df, "text", "id", max_tokens=4, overlap=4)


def test_ngram_topk_doc_frequency_and_pruning(spark):
    from pgferry_spark.functions.text import ngram_topk

    df = spark.createDataFrame(
        [
            (1, "all rights reserved see terms below"),
            (2, "all rights reserved unless noted"),
            (3, "all rights reserved see terms below"),
            (4, "completely different text entirely here"),
            # within-doc repetition must NOT inflate doc_freq (distinct
            # shingles per doc):
            (5, "spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    rows = ngram_topk(df, "text", "doc_id", n=3, k=10, min_doc_freq=2).collect()
    by_gram = {r["ngram"]: r for r in rows}
    assert by_gram["all rights reserved"]["doc_freq"] == 3
    assert by_gram["all rights reserved"]["doc_share"] == 0.6
    assert by_gram["rights reserved see"]["doc_freq"] == 2
    # singletons pruned
    assert "completely different text" not in by_gram
    assert "spam spam spam" not in by_gram  # one doc, distinct shingles


def test_ngram_topk_tie_break_deterministic(spark):
    from pgferry_spark.functions.text import ngram_topk

    df = spark.createDataFrame(
        [(1, "b b b"), (2, "b b b"), (3, "a a a"), (4, "a a a"),
         (5, "c c c"), (6, "c c c")],
        "doc_id long, text string",
    )
    # all three grams tie at doc_freq=2; k=2 must keep the lexicographically
    # first two — same rule both engines, stable across runs
    rows = ngram_topk(df, "text", "doc_id", n=3, k=2).collect()
    assert [r["ngram"] for r in rows] == ["a a a", "b b b"]


class TestScriptProfile:
    def test_counts_and_dominance(self, spark):
        from pgferry_spark.functions.text import script_profile

        rows = [
            (1, "hello world"),                 # pure latin
            (2, "привет мир hello"),            # cyrillic-dominant
            (3, "世界你好今天天氣很好 hi"),       # cjk-dominant
            (4, "مرحبا بالعالم"),                # arabic
            (5, "123 !!! ..."),                  # nothing -> und
            (6, "abcd абвг"),                    # 4-4 tie -> latin (order)
        ]
        df = spark.createDataFrame(rows, "doc_id: long, t: string")
        out = {r.doc_id: r for r in script_profile(df, "t", "doc_id").collect()}
        assert out[1].dominant_script == "latin" and out[1].n_latin == 10
        assert out[2].dominant_script == "cyrillic"
        assert out[3].dominant_script == "cjk"
        assert out[4].dominant_script == "arabic" and out[4].n_latin == 0
        assert out[5].dominant_script == "und"
        assert out[6].dominant_script == "latin"  # fixed-order tie-break

    def test_template_identical_both_engines(self, spark):
        import duckdb
        from pgferry_spark.functions.text import SCRIPT_COUNT_SQL, SCRIPT_RANGES
        from pyspark.sql import functions as F

        s = "mixed привет 世界 مرحبا latin text 42"
        for name, ranges in SCRIPT_RANGES.items():
            sp = (
                spark.createDataFrame([(s,)], "t: string")
                .select(F.expr(SCRIPT_COUNT_SQL.format(col="t", ranges=ranges, g="")))
                .first()[0]
            )
            dk = duckdb.sql(
                "SELECT "
                + SCRIPT_COUNT_SQL.format(col="t", ranges=ranges, g=", 'g'")
                + " FROM (SELECT ? AS t)",
                params=[s],
            ).fetchone()[0]
            assert sp == dk, name
