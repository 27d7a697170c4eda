"""Focused pins for the round-14 optimization changes: the behaviors the
rewrites must preserve (tie-breaks, cap semantics, memo identity), beyond
the oracle equality the driver gate already enforces."""

import pytest
from pyspark.sql import functions as F


class TestCentroidLiteralCollapse:
    """kmeans_cell_of / _nearest_centroid moved from C unrolled distance
    trees to one nested-array literal + transform — the float ops and
    the (score, neg_id) struct-max tie-break must be unchanged."""

    def test_cell_of_ties_break_to_lower_cell(self, spark):
        from pgferry_spark.operators.similarity import kmeans_cell_of

        # two identical centroids: every vector is equidistant -> cell 0
        cents = [[1.0, 2.0], [1.0, 2.0], [9.0, 9.0]]
        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [1.1, 2.2]), (2, [8.0, 8.0])],
            "id long, v array<double>",
        )
        rows = df.select(
            "id", kmeans_cell_of(F.col("v"), cents, dp=6).alias("c")
        ).collect()
        got = {r["id"]: r["c"] for r in rows}
        assert got[0] == 0 and got[1] == 0  # tie -> lowest cell id
        assert got[2] == 2

    def test_nearest_centroid_matches_driver_side_argmax(self, spark):
        import math

        import numpy as np

        from pgferry_spark.operators.similarity import (
            _nearest_centroid,
            ivf_query_cell,
        )

        rng = np.random.default_rng(7)
        cents = [[float(x) for x in rng.normal(size=8)] for _ in range(5)]
        vecs = [[float(x) for x in rng.normal(size=8)] for _ in range(20)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
        )
        rows = df.select(
            "id",
            (-_nearest_centroid(F.col("v"), cents, metric="dot")["neg_id"])
            .cast("int")
            .alias("c"),
        ).collect()
        got = {r["id"]: r["c"] for r in rows}
        for i, v in enumerate(vecs):
            assert got[i] == ivf_query_cell(cents, v), f"vec {i}"
        # euclidean arm still validates the metric name eagerly
        with pytest.raises(ValueError):
            _nearest_centroid(F.col("v"), cents, metric="cosine")


class TestCappedCrossCorpusWindowGate:
    """The max_bucket gate moved from groupBy-counts + semi-join (which
    re-ran the corpus MinHash) to broadcast-prune + window count — the
    kept/dropped bucket sets must be identical, including buckets whose
    size equals the cap exactly."""

    def test_cap_boundary_is_inclusive(self, spark):
        from pgferry_spark.operators.dedup import cross_corpus_near_dup

        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id: long, text: string",
        )
        corpus = spark.createDataFrame(
            [(100 + i, "alpha beta gamma delta epsilon zeta")
             for i in range(4)],
            "doc_id: long, text: string",
        )
        # 4 identical corpus docs: every shared bucket has exactly 4
        # members. cap=4 keeps them (<=), cap=3 drops them.
        at_cap = cross_corpus_near_dup(
            bench, corpus, "text", "doc_id", min_jaccard=0.5, max_bucket=4
        ).count()
        below_cap = cross_corpus_near_dup(
            bench, corpus, "text", "doc_id", min_jaccard=0.5, max_bucket=3
        ).count()
        assert at_cap == 4
        assert below_cap == 0


class TestReadOnlyParquetMemo:
    def test_same_path_same_handle_distinct_paths_distinct(self, spark):
        from pgferry_spark.sources.parquet import read_parquet_memo

        a1 = read_parquet_memo(spark, "/root/testdata/sf0.001/region.parquet")
        a2 = read_parquet_memo(spark, "/root/testdata/sf0.001/region.parquet")
        b = read_parquet_memo(spark, "/root/testdata/sf0.001/nation.parquet")
        assert a1 is a2  # the memoized plan handle, not a fresh read
        assert a1 is not b
        assert a1.count() == 5  # still a live, scannable plan

    def test_memo_stores_plans_not_results(self, spark):
        # the memo must never pin rows: no persisted blocks may appear
        # just from constructing through the memo
        from pgferry_spark.sources.parquet import read_parquet_memo

        df = read_parquet_memo(spark, "/root/testdata/sf0.001/supplier.parquet")
        assert df.storageLevel.useMemory is False
        assert df.storageLevel.useDisk is False

    def test_invalidate_matches_whole_path_components(self, spark, tmp_path):
        # invalidating sf1 drops the tables under sf1, not those of sf10
        from pgferry_spark.sources.parquet import invalidate_parquet_memo, read_parquet_memo

        paths = {}
        for sf in ("sf1", "sf10"):
            paths[sf] = str(tmp_path / sf / "t.parquet")
            spark.range(3).write.parquet(paths[sf])
        sf1 = read_parquet_memo(spark, paths["sf1"])
        sf10 = read_parquet_memo(spark, paths["sf10"])
        assert invalidate_parquet_memo(str(tmp_path / "sf1")) == 1
        assert read_parquet_memo(spark, paths["sf10"]) is sf10
        assert read_parquet_memo(spark, paths["sf1"]) is not sf1
        assert invalidate_parquet_memo(paths["sf10"]) == 1


class TestVerifyStepPersist:
    def test_jaccard_pairs_results_unchanged_by_persist(self, spark):
        from pgferry_spark.operators.dedup import jaccard_pairs

        d = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d x"), (3, "q r s t u")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3)], "id_a long, id_b long"
        )
        rows = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(d, pairs, "text", "doc_id", n=3).collect()
        }
        # (1,2): grams {abc,bcd,cde} vs {abc,bcd,cdx} -> 2/4
        assert rows[(1, 2)] == pytest.approx(0.5)
        # zero-intersection pair still present at 0.0 (the left-join pin)
        assert rows[(1, 3)] == 0.0
