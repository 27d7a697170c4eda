"""Chunk-planner parity tests (mirror of reference chunk_test.go:5-332 cases,
fixture F4 in FIXTURES.md)."""

from pgferry_spark.plans.chunk import (
    INT64_MAX,
    Chunk,
    chunk_key_for_table,
    plan_chunks,
    plan_table_chunks,
)


def test_f4_boundaries_with_gap_tolerance():
    # ids 1..250,000, chunk_size 100k -> [1,100001) [100001,200001) [200001,250000]
    chunks = plan_chunks(1, 250_000, 100_000)
    assert [(c.lo, c.hi, c.is_last) for c in chunks] == [
        (1, 100_001, False),
        (100_001, 200_001, False),
        (200_001, 250_000, True),
    ]


def test_exact_multiple_range():
    chunks = plan_chunks(1, 200_000, 100_000)
    assert [(c.lo, c.hi, c.is_last) for c in chunks] == [
        (1, 100_001, False),
        (100_001, 200_000, True),
    ]


def test_single_chunk():
    assert plan_chunks(1, 50, 100_000) == [Chunk(1, 50, True)]


def test_single_row():
    assert plan_chunks(7, 7, 100) == [Chunk(7, 7, True)]


def test_empty_table_single_unbounded_chunk():
    chunks = plan_chunks(None, None, 100_000)
    assert len(chunks) == 1
    assert chunks[0].predicate("id") is None


def test_negative_range():
    chunks = plan_chunks(-150_000, -1, 100_000)
    assert [(c.lo, c.hi, c.is_last) for c in chunks] == [
        (-150_000, -50_000, False),
        (-50_000, -1, True),
    ]


def test_int64_overflow_saturates():
    chunks = plan_chunks(INT64_MAX - 10, INT64_MAX, 100_000)
    assert chunks == [Chunk(INT64_MAX - 10, INT64_MAX, True)]


def test_predicates():
    chunks = plan_chunks(1, 250_000, 100_000)
    preds = [c.predicate("id") for c in chunks]
    assert preds == [
        "id >= 1 AND id < 100001",
        "id >= 100001 AND id < 200001",
        "id >= 200001 AND id <= 250000",
    ]


def test_merged_predicate_joins_adjacent_chunks():
    plan = plan_table_chunks("t", "id", 1, 500, 100)  # 5 chunks
    assert plan.merged_predicate([2, 3, 4], "id") == "id >= 201 AND id <= 500"
    assert plan.merged_predicate([0, 1, 3], "id") == (
        "(id >= 1 AND id < 201) OR (id >= 301 AND id < 401)"
    )


def test_chunk_key_eligibility():
    types = {
        "id": "bigint",
        "uid": "char(36)",
        "ub": "bigint unsigned",
        "n": "int(11)",
    }
    assert chunk_key_for_table(["id"], types) == "id"
    assert chunk_key_for_table(["n"], types) == "n"  # int(11) -> int base
    assert chunk_key_for_table(["uid"], types) is None  # non-numeric
    assert chunk_key_for_table(["id", "n"], types) is None  # composite
    assert chunk_key_for_table(["ub"], types) is None  # unsigned bigint overflow guard
    assert chunk_key_for_table([], types) is None


def test_plan_table_chunks_unchunkable_gives_unbounded():
    plan = plan_table_chunks("t", None, None, None)
    assert plan.predicates() is None


class TestDateChunks:
    def test_tiles_exactly_with_closed_tail(self):
        from pgferry_spark.plans.chunk import plan_date_chunks

        cs = plan_date_chunks("2024-01-01", "2024-01-20", days_per_chunk=7)
        assert [(c.lo, c.hi, c.is_last) for c in cs] == [
            ("2024-01-01", "2024-01-08", False),
            ("2024-01-08", "2024-01-15", False),
            ("2024-01-15", "2024-01-20", True),
        ]
        assert cs[0].predicate("d") == "d >= DATE '2024-01-01' AND d < DATE '2024-01-08'"
        assert cs[-1].predicate("d").endswith("d <= DATE '2024-01-20'")

    def test_single_day_and_empty(self):
        from pgferry_spark.plans.chunk import plan_date_chunks

        cs = plan_date_chunks("2024-03-05", "2024-03-05", days_per_chunk=7)
        assert [(c.lo, c.hi, c.is_last) for c in cs] == [
            ("2024-03-05", "2024-03-05", True)
        ]
        assert plan_date_chunks(None, None) == []

    def test_every_date_lands_in_exactly_one_chunk(self):
        import datetime as dt

        from pgferry_spark.plans.chunk import plan_date_chunks

        cs = plan_date_chunks("2024-01-01", "2024-02-14", days_per_chunk=10)
        d = dt.date(2024, 1, 1)
        while d <= dt.date(2024, 2, 14):
            holders = [
                c for c in cs
                if c.lo <= d.isoformat()
                and (d.isoformat() <= c.hi if c.is_last else d.isoformat() < c.hi)
            ]
            assert len(holders) == 1, d
            d += dt.timedelta(days=1)

    def test_inverted_range_rejected(self):
        import pytest as _pytest

        from pgferry_spark.plans.chunk import plan_date_chunks

        with _pytest.raises(ValueError):
            plan_date_chunks("2024-02-01", "2024-01-01")
