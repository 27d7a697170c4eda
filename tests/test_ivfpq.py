"""IVFADC (ivf_pq_index / ivf_pq_topk / ann_recall) semantics pins.

The DuckDB oracle gate replays the whole pipeline in SQL; these tests pin
the internal equivalences the oracle can't see — the one-scan Arrow index
build must be bit-identical to the separately-verified expression twins
(`ivf_assign` for cells, `pq_encode(impl="expr")` for codes), and the ADC
tables must reproduce `pq_encode`'s rounding so a vector that IS a codebook
centroid scores its own table entry as 0.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from pgferry_spark.operators import similarity as S


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_index_matches_expression_twins(spark, vecs):
    cents = S.ivf_centroids(vecs, "embedding", "vec_id", n_cells=4)
    books = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    idx = {
        r["vec_id"]: (r["cell_id"], list(r["codes"]))
        for r in S.ivf_pq_index(
            vecs, "embedding", "vec_id", centroids=cents, codebooks=books
        ).collect()
    }
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in S.ivf_assign(
            vecs, "embedding", "vec_id", centroids=cents
        ).collect()
    }
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in S.pq_encode(
            vecs, "embedding", "vec_id", m=4, k=8, codebooks=books, impl="expr"
        ).collect()
    }
    assert set(idx) == set(cells) == set(codes)
    for vid, (cell, cds) in idx.items():
        assert cell == cells[vid], f"cell mismatch for {vid}"
        assert cds == codes[vid], f"codes mismatch for {vid}"


def test_adc_table_zero_for_codebook_centroid(vecs):
    books = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    # query = vector 3 (a codebook row): each subspace's table must score
    # centroid 3 at exactly 0.0 under the shared 4dp rounding
    q = [x for sub in (b[3] for b in books) for x in sub]
    tables = S.pq_adc_tables(books, q)
    assert [t[3] for t in tables] == [0.0, 0.0, 0.0, 0.0]
    assert all(min(t) == 0.0 for t in tables)


def test_query_cells_ranking_and_probe(spark, vecs):
    cents = S.ivf_centroids(vecs, "embedding", "vec_id", n_cells=4)
    books = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    qvec = [float(x) for x in vecs.filter(F.col("vec_id") == 0).first()["embedding"]]
    cells = S.ivf_query_cells(cents, qvec, nprobe=2)
    assert len(cells) == 2 and cells[0] == S.ivf_query_cell(cents, qvec)
    idx = S.ivf_pq_index(
        vecs, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    out = S.ivf_pq_topk(
        idx, qvec, cents, books, id_col="vec_id", k=5, nprobe=2
    ).collect()
    assert len(out) == 5
    # ascending approx distance, deterministic tie-break on id
    dists = [(r["approx_dist"], r["vec_id"]) for r in out]
    assert dists == sorted(dists)
    assert all(r["cell_id"] in cells for r in out)
    # the query vector itself quantizes to its own codes -> distance 0 top hit
    assert out[0]["vec_id"] == 0 and out[0]["approx_dist"] == 0.0


def test_full_probe_equals_all_cells(spark, vecs):
    cents = S.ivf_centroids(vecs, "embedding", "vec_id", n_cells=4)
    books = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    qvec = [1.0] * 16
    idx = S.ivf_pq_index(
        vecs, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    full = S.ivf_pq_topk(idx, qvec, cents, books, k=60, nprobe=4)
    assert full.count() == 60  # nprobe = n_cells probes everything


def test_ann_recall_arithmetic(spark):
    exact = spark.createDataFrame([(i,) for i in range(10)], "vec_id long")
    approx = spark.createDataFrame([(i,) for i in range(5, 15)], "vec_id long")
    row = S.ann_recall(exact, approx).collect()[0]
    assert (row["k_exact"], row["n_hits"], row["recall"]) == (10, 5, 0.5)


def test_ann_recall_construction_launches_no_jobs(spark, vecs, jobs_in_group):
    # lazy end to end: building the scorecard plan must not trigger a job
    before = jobs_in_group(None)
    exact = vecs.limit(10).select("vec_id")
    approx = vecs.limit(10).select("vec_id")
    S.ann_recall(exact, approx)
    assert jobs_in_group(None) == before


def test_lsh_knn_join_no_cartesian_and_bucket_recall(spark, vecs):
    from pgferry_spark.operators.similarity import lsh_knn_join

    qs = vecs.filter("vec_id % 10 = 0")
    corpus = vecs.filter("vec_id % 10 != 0")
    out = lsh_knn_join(qs, corpus, "embedding", "vec_id", k=3,
                       n_planes=8, bands=4, dim=16)
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, lst in by_q.items():
        assert len(lst) <= 3
        assert all(r.corpus_id % 10 != 0 for r in lst)
        ranks = sorted(r.rank for r in lst)
        assert ranks == list(range(1, len(lst) + 1))
        sims = [r.cosine_sim for r in sorted(lst, key=lambda r: r.rank)]
        assert sims == sorted(sims, reverse=True)


# --- round 4: trained codebooks + two-stage rerank probe ----------------


def test_pq_codebooks_kmeans_shape_and_determinism(spark, vecs):
    b1 = S.pq_codebooks_kmeans(vecs, "embedding", "vec_id", m=4, k=4,
                               sample=60, iters=8)
    b2 = S.pq_codebooks_kmeans(vecs, "embedding", "vec_id", m=4, k=4,
                               sample=60, iters=8)
    assert b1 == b2  # no RNG anywhere: sample, init, and Lloyd are fixed
    assert len(b1) == 4 and all(len(book) == 4 for book in b1)
    assert all(len(c) == 4 for book in b1 for c in book)  # dim/m = 16/4


def test_pq_codebooks_kmeans_lower_distortion_than_standin(spark, vecs):
    # trained books must not quantize WORSE than the arbitrary id<k rows
    # on the data they were trained on (total recon_err is Lloyd's loss)
    det = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    km = S.pq_codebooks_kmeans(vecs, "embedding", "vec_id", m=4, k=8,
                               sample=60, iters=20)
    err = {
        name: sum(
            r["recon_err"]
            for r in S.pq_encode(vecs, "embedding", "vec_id", m=4, k=8,
                                 codebooks=b).collect()
        )
        for name, b in [("det", det), ("km", km)]
    }
    assert err["km"] <= err["det"]


def test_rerank_probe_ids_come_from_shortlist_in_exact_order(spark, vecs):
    cents = S.ivf_centroids(vecs, "embedding", "vec_id", n_cells=4)
    books = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    idx = S.ivf_pq_index(vecs, "embedding", "vec_id", n_cells=4, m=4, k=8,
                         centroids=cents, codebooks=books)
    q = [float(x) for x in vecs.filter(F.col("vec_id") == 3).first()["embedding"]]
    sl = S.ivf_pq_topk(idx, q, cents, books, id_col="vec_id", k=20, nprobe=2)
    sl_ids = {r["vec_id"] for r in sl.collect()}
    out = S.ivf_pq_topk_rerank(
        idx, vecs, q, cents, books, "embedding", id_col="vec_id",
        k=5, shortlist=20, nprobe=2,
    ).collect()
    assert [r["vec_id"] for r in out] == [
        r["vec_id"]
        for r in S.cosine_topk(
            vecs.filter(F.col("vec_id").isin(list(sl_ids))),
            "embedding", "vec_id", q, k=5,
        ).collect()
    ]
    assert all(r["vec_id"] in sl_ids for r in out)
    sims = [r["cosine_sim"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_rerank_recall_at_least_adc_recall(spark, vecs):
    cents = S.ivf_centroids(vecs, "embedding", "vec_id", n_cells=4)
    books = S.pq_codebooks(vecs, "embedding", "vec_id", m=4, k=8)
    idx = S.ivf_pq_index(vecs, "embedding", "vec_id", n_cells=4, m=4, k=8,
                         centroids=cents, codebooks=books)
    q = [float(x) for x in vecs.filter(F.col("vec_id") == 3).first()["embedding"]]
    exact = S.cosine_topk(vecs, "embedding", "vec_id", q, k=5)
    adc = S.ivf_pq_topk(idx, q, cents, books, id_col="vec_id", k=5, nprobe=2)
    rer = S.ivf_pq_topk_rerank(idx, vecs, q, cents, books, "embedding",
                               id_col="vec_id", k=5, shortlist=30, nprobe=2)
    r_adc = S.ann_recall(exact, adc, id_col="vec_id").first()["recall"]
    r_rer = S.ann_recall(exact, rer, id_col="vec_id").first()["recall"]
    # re-ranking a superset shortlist can only help: every ADC top-k id in
    # the probed cells is in the 30-row shortlist, and exact scoring then
    # ranks at least as faithfully as the quantized distance
    assert r_rer >= r_adc
