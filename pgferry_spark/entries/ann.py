"""Embedding entries: cosine top-k, LSH, IVF, PQ, k-means and kNN graphs."""

from __future__ import annotations

from functools import cache

from pyspark.sql import functions as F

from pgferry_spark.entries.common import lake_table as _t, _LTOKS
from pgferry_spark.entries.registry import register
from pgferry_spark.operators import dedup, ranking, similarity


@cache
def knn_planes():
    return similarity.random_hyperplanes(64, 24, 42)


# hyperplane-LSH oracles: the planes are driver-side seeded constants in
# the Spark operators (similarity.random_hyperplanes), so they embed into
# the SQL as DOUBLE[] literals — the oracle replays the exact signatures
def plane_lit(p):
    return "[" + ",".join(repr(float(x)) for x in p) + "]"


def sig_terms(planes, vec="v"):
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec}, {plane_lit(p)}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


# 24-plane signatures cut into four 6-bit bands: the kNN candidate buckets
@cache
def knn_bands_cte():
    return f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sig AS (SELECT vec_id, v, ({sig_terms(knn_planes())}) AS s FROM e),
            bl AS (
              SELECT vec_id, v, band_id, (s >> (band_id * 6)) & 63 AS band_val
              FROM sig CROSS JOIN (SELECT unnest(range(4)) AS band_id)
            )"""


@register("lsh_knn_join", oracle=lambda: f"""
            {knn_bands_cte()},
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
              FROM bl q JOIN bl c USING (band_id, band_val)
              WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0
            ),
            scored AS (
              SELECT cd.query_id, cd.corpus_id,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
              FROM cand cd
              JOIN e x ON x.vec_id = cd.query_id
              JOIN e y ON y.vec_id = cd.corpus_id
            )
            SELECT query_id, corpus_id, cosine_sim, CAST(rnk AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cosine_sim DESC, corpus_id ASC) AS rnk
                  FROM scored)
            WHERE rnk <= 5
        """)
def _lsh_knn_join(spark, sf):
    """Batch kNN join: every 10th embedding queries the rest of the
    corpus through shared 6-bit LSH band buckets — RAG batch retrieval,
    never |Q|x|C|."""
    from pgferry_spark.operators.similarity import lsh_knn_join

    e = _t(spark, sf, "embeddings")
    qs = e.filter(F.col("vec_id") % 10 == 0)
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    return lsh_knn_join(qs, corpus, "embedding", "vec_id", k=5,
                        n_planes=24, bands=4, dim=64)


@register("embedding_near_dup", oracle="""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
        """)
def _embedding_near_dup(spark, sf):
    """Exact embedding-cosine near-dup pairs (all-pairs verify baseline)."""
    e = _t(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", threshold=0.35)


@cache
def emb_planes():
    return similarity.random_hyperplanes(64, 16, 42)


@register("embedding_near_dup_lsh", oracle=lambda: f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sig AS (SELECT vec_id, v, ({sig_terms(emb_planes())}) AS s FROM e),
            bl AS (
              SELECT vec_id, v, band_id, (s >> (band_id * 2)) & 3 AS band_val
              FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band_id)
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM bl a JOIN bl b USING (band_id, band_val)
              WHERE a.vec_id < b.vec_id
            )
            SELECT c.id_a, c.id_b,
                   ROUND(list_dot_product(x.v, y.v)
                         / (sqrt(list_dot_product(x.v, x.v))
                            * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
            FROM cand c
            JOIN e x ON x.vec_id = c.id_a
            JOIN e y ON y.vec_id = c.id_b
            WHERE ROUND(list_dot_product(x.v, y.v)
                        / (sqrt(list_dot_product(x.v, x.v))
                           * sqrt(list_dot_product(y.v, y.v))), 4) >= 0.35
        """)
def _embedding_near_dup_lsh(spark, sf):
    """LSH-blocked embedding near-dup (scale path, approximate recall; the
    oracle replays the same seeded planes and bands)."""
    e = _t(spark, sf, "embeddings")
    return dedup.embedding_near_dup_pairs_lsh(
        e, "embedding", "vec_id", threshold=0.35, n_planes=16, bands=8
    )


@register("embedding_dedup", oracle="""
            WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id, a.label
            FROM e a
            WHERE NOT EXISTS (
                SELECT 1 FROM e b
                WHERE b.vec_id < a.vec_id
                  AND ROUND(list_dot_product(a.v, b.v)
                            / (sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
            )
        """)
def _embedding_dedup(spark, sf):
    """Cosine dedup keep-set: vectors surviving the smaller-id-keeper rule."""
    e = _t(spark, sf, "embeddings")
    kept = dedup.embedding_dedup(e, "embedding", "vec_id", threshold=0.35)
    return kept.select("vec_id", "label")


@register("cosine_topk", oracle="""
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), q.qe)
                         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine_sim
            FROM embeddings, q
            ORDER BY cosine_sim DESC, vec_id ASC
            LIMIT 10
        """)
def _cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)


@register("pairwise_cosine_topk", oracle="""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            p AS (SELECT vec_id AS probe_id, v AS q FROM e WHERE vec_id < 3),
            scored AS (
              SELECT p.probe_id, e.vec_id AS base_id,
                     ROUND(list_dot_product(e.v, p.q)
                           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.q, p.q))), 4) AS cosine_sim
              FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY cosine_sim DESC, base_id ASC) AS nn_rank
              FROM scored
            )
            SELECT probe_id, base_id, cosine_sim, nn_rank FROM ranked WHERE nn_rank <= 5
        """)
def _pairwise_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    probe = e.filter(F.col("vec_id") < 3)
    out = similarity.pairwise_cosine_topk(e, "embedding", "vec_id", probe, k=5)
    return out.withColumnRenamed("rank", "nn_rank")


# every embedding's cells ranked by rounded dot product against the
# centroid stand-ins ``c``: rnk = 1 is its IVF cell
_IVF_RANKED = """dots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM dots)"""


@register("ivf_assign", oracle=lambda: f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            {_IVF_RANKED}
            SELECT vec_id, cell_id FROM ranked WHERE rnk = 1
        """)
def _ivf_assign(spark, sf):
    """IVF cell assignment over deterministic centroids (vec_id < 8)."""
    e = _t(spark, sf, "embeddings")
    return similarity.ivf_assign(e, "embedding", "vec_id", n_cells=8)


@register("ivf_topk", oracle=lambda: f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            {_IVF_RANKED},
            assign AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            qcell AS (SELECT cell_id FROM assign WHERE vec_id = 0),
            q AS (SELECT v AS qe FROM e WHERE vec_id = 0)
            SELECT e.vec_id,
                   ROUND(list_dot_product(e.v, q.qe)
                         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qe, q.qe))),
                         4) AS cosine_sim
            FROM e
            JOIN assign ON assign.vec_id = e.vec_id
            JOIN qcell ON assign.cell_id = qcell.cell_id
            CROSS JOIN q
            ORDER BY cosine_sim DESC, e.vec_id ASC
            LIMIT 10
        """)
def _ivf_topk(spark, sf):
    """ANN probe of one IVF cell: query = vec_id 0. Index metadata (the C
    centroids) collects driver-side once; the query cell is a driver-side
    argmax over it; the probe itself is ONE filtered map-only corpus scan +
    top-k — no ivf_assign stage, no joins (the plan a repeated probe runs)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    qcell = similarity.ivf_query_cell(cents, qvec)
    return similarity.ivf_topk(
        e, "embedding", "vec_id", qvec, qcell, k=10, centroids=cents
    )


def _mmr_oracle(
    k: int = 10,
    lam: float = 0.5,
    n_candidates: int = 50,
    ivf_probe: bool = False,
) -> str:
    """Unrolled-greedy MMR oracle: the k-step argmax loop is inherently
    sequential, but k is a FIXED small constant, so each step becomes one
    chained CTE (scored_i -> argmax sel_i -> prev_i accumulator) — plain
    ANSI SQL, no recursion. Mirrors similarity.mmr_select exactly: rel
    rounded to 4 dp at candidate time, pair cosines to 4 dp, MMR score to
    6 dp before each argmax, ties to the smaller id."""
    lam_s, oml_s = repr(float(lam)), repr(1.0 - float(lam))
    pair_cos = (
        "ROUND(list_dot_product(c.v, p.v) / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(p.v, p.v))), 4)"
    )
    if ivf_probe:
        # candidate pool = the query's IVF cell only (same assign/qcell
        # CTEs as the ivf_topk oracle), mirroring mmr_select over the
        # _cell_of-filtered corpus — the scale-path pairing
        cand_src = """
        c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
        celldots AS (SELECT e.vec_id, c.cell_id,
                            ROUND(list_dot_product(e.v, c.cvec), 4) AS dot
                     FROM e CROSS JOIN c),
        cellranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                    ORDER BY dot DESC, cell_id ASC) AS rnk
                       FROM celldots),
        assign AS (SELECT vec_id, cell_id FROM cellranked WHERE rnk = 1),
        qcell AS (SELECT cell_id FROM assign WHERE vec_id = 0),
        pool AS (SELECT e.vec_id, e.v
                 FROM e JOIN assign ON assign.vec_id = e.vec_id
                 JOIN qcell ON assign.cell_id = qcell.cell_id),"""
    else:
        cand_src = """
        pool AS (SELECT vec_id, v FROM e),"""
    parts = [
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qe FROM e WHERE vec_id = 0),{cand_src}
        cand AS MATERIALIZED (
          SELECT vec_id AS id, v,
                 ROUND(list_dot_product(v, q.qe)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(q.qe, q.qe))), 4) AS rel
          FROM pool, q
          ORDER BY rel DESC, id ASC
          LIMIT {n_candidates}
        ),
        sel1 AS MATERIALIZED (SELECT id, v, rel, 1 AS mmr_rank, ROUND(rel, 6) AS mmr_score
                 FROM cand ORDER BY rel DESC, id ASC LIMIT 1),
        prev1 AS MATERIALIZED (SELECT id, v FROM sel1)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
        scored{i} AS MATERIALIZED (
          SELECT c.id, c.v, c.rel,
                 ROUND({lam_s} * c.rel - {oml_s} * MAX({pair_cos}), 6) AS mmr_score
          FROM cand c CROSS JOIN prev{i - 1} p
          WHERE c.id NOT IN (SELECT id FROM prev{i - 1})
          GROUP BY c.id, c.v, c.rel
        ),
        sel{i} AS MATERIALIZED (SELECT id, v, rel, {i} AS mmr_rank, mmr_score FROM scored{i}
                   ORDER BY mmr_score DESC, id ASC LIMIT 1),
        prev{i} AS MATERIALIZED (SELECT id, v FROM prev{i - 1} UNION ALL SELECT id, v FROM sel{i})"""
        )
    union = "\n        UNION ALL\n".join(
        f"        SELECT id AS vec_id, mmr_rank, mmr_score FROM sel{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n" + union


@register("mmr_diversify_ivf", oracle=lambda: _mmr_oracle(
            k=10, lam=0.5, n_candidates=50, ivf_probe=True
        ))
def _mmr_diversify_ivf(spark, sf):
    """Scale-path MMR: the candidate pool is ONE probed IVF cell (per-row
    argmax against broadcast centroid literals — the ivf_topk probe plan)
    instead of the exact full-corpus scan; the greedy stage is identical.
    Pairs with `mmr_diversify` the way ivf_topk pairs with cosine_topk."""
    from pgferry_spark.operators.similarity import _cell_of

    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    qcell = similarity.ivf_query_cell(cents, qvec)
    members = e.filter(_cell_of(F.col("embedding"), cents) == qcell)
    return similarity.mmr_select(
        members, "embedding", "vec_id", qvec, k=10, lam=0.5, n_candidates=50
    )


def _kmeans_oracle(
    n_cells: int = 8, n_iters: int = 3, dp: int = 6, mode: str = "assign"
) -> str:
    """Unrolled deterministic-Lloyd oracle. Mirrors
    similarity.kmeans_deterministic exactly: components quantized to
    ``dp`` once; per-iteration assignment = argmin of the sequential
    list-fold squared L2 rounded to ``dp`` (ties to the lower cell);
    means = DECIMAL(38,12) exact sums (order-independent on both
    engines) cast to DOUBLE, divided, rounded to ``dp``; empty clusters
    keep the previous centroid (COALESCE over a LEFT JOIN)."""
    parts = [
        f"""
        WITH eq AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> ROUND(x, {dp})) AS vq
          FROM embeddings
        ),
        cent0 AS MATERIALIZED (
          SELECT vec_id AS cell, vq AS c FROM eq WHERE vec_id < {n_cells}
        )"""
    ]
    dist = (
        f"ROUND(list_sum(list_transform(range(1, len(e.vq) + 1), "
        f"i -> (e.vq[i] - c.c[i]) * (e.vq[i] - c.c[i]))), {dp})"
    )
    for t in range(1, n_iters + 2):  # n_iters updates + the final assign
        parts.append(
            f""",
        asg{t} AS MATERIALIZED (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell, {dist} AS d,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist} ASC, c.cell ASC) AS rnk
            FROM eq e CROSS JOIN cent{t - 1} c
          ) WHERE rnk = 1
        )"""
        )
        if t == n_iters + 1:
            break
        parts.append(
            f""",
        stat{t} AS MATERIALIZED (
          SELECT cell, u.pos AS pos,
                 CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE) AS s,
                 COUNT(*) AS n
          FROM (
            SELECT a.cell,
                   unnest(list_transform(range(1, len(e.vq) + 1),
                          i -> {{'pos': i, 'val': e.vq[i]}})) AS u
            FROM asg{t} a JOIN eq e USING (vec_id)
          ) GROUP BY cell, u.pos
        ),
        m{t} AS MATERIALIZED (
          SELECT cell, list(ROUND(s / n, {dp}) ORDER BY pos) AS c
          FROM stat{t} GROUP BY cell
        ),
        cent{t} AS MATERIALIZED (
          SELECT p.cell, COALESCE(m.c, p.c) AS c
          FROM cent{t - 1} p LEFT JOIN m{t} m USING (cell)
        )"""
        )
    if mode == "assign":
        parts.append(
            f"""
        SELECT vec_id, CAST(cell AS INT) AS cell_id FROM asg{n_iters + 1}"""
        )
        return "".join(parts)
    if mode != "topk":
        raise ValueError(f"unknown mode: {mode!r}")
    # probe: the query's trained cell, exact cosine top-10 within it
    parts.append(
        f""",
        qc AS (SELECT cell FROM asg{n_iters + 1} WHERE vec_id = 0),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
              FROM embeddings WHERE vec_id = 0)
        SELECT emb.vec_id,
               ROUND(list_dot_product(CAST(emb.embedding AS DOUBLE[]), q.qe)
                     / (sqrt(list_dot_product(CAST(emb.embedding AS DOUBLE[]),
                                              CAST(emb.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine_sim
        FROM embeddings emb
        JOIN asg{n_iters + 1} a ON a.vec_id = emb.vec_id
        JOIN qc ON a.cell = qc.cell
        CROSS JOIN q
        ORDER BY cosine_sim DESC, emb.vec_id ASC
        LIMIT 10"""
    )
    return "".join(parts)


@register("kmeans_exact_assign", oracle=lambda: _kmeans_oracle(n_cells=8, n_iters=3, dp=6))
def _kmeans_exact_assign(spark, sf):
    """Deterministic distributed Lloyd's (3 iterations, 8 cells): the
    reproducible, oracle-verifiable trained-clustering counterpart to the
    MLlib rows (`ivf_kmeans_assign`) — decimal-exact mean reductions make
    the result independent of partitioning and reduction order."""
    e = _t(spark, sf, "embeddings")
    return similarity.kmeans_deterministic(
        e, "embedding", "vec_id", n_cells=8, n_iters=3
    )


@register("ivf_kmeans_exact_topk", oracle=lambda: _kmeans_oracle(
            n_cells=8, n_iters=3, dp=6, mode="topk"
        ))
def _ivf_kmeans_exact_topk(spark, sf):
    """ANN probe over the TRAINED deterministic index: centroids from
    kmeans_deterministic (3 Lloyd iterations, decimal-exact means), the
    query's cell by the same argmin rule, then exact cosine top-10 within
    that one cell — the trained-index end-to-end, fully oracle-backed
    (unlike the MLlib ivf_kmeans rows). One filtered map-only scan."""
    e = _t(spark, sf, "embeddings")
    # the fit's init collect already holds vector 0 (ids < n_cells)
    # raw+quantized — reuse it for the query vector instead of a
    # separate first() job (guide §1.2: one less driver job)
    cents, init = similarity.kmeans_deterministic_fit(
        e, "embedding", "vec_id", n_cells=8, n_iters=3
    )
    qvec = [float(x) for x in init[0]["embedding"]]
    # query cell driver-side with the identical quantize/round/tie rules
    from pgferry_spark.operators.similarity import _round_half_up

    vq = [_round_half_up(v, 6) for v in qvec]
    dists = []
    for i, c in enumerate(cents):
        acc = 0.0
        for a, b in zip(vq, c):
            acc += (a - b) * (a - b)
        dists.append((_round_half_up(acc, 6), i))
    qcell = min(dists)[1]
    pre = e.select(
        "vec_id", "embedding",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: F.round(x, 6)
        ).alias("__vq"),
    )
    members = pre.filter(
        similarity.kmeans_cell_of(F.col("__vq"), cents, prequantized=True)
        == qcell
    ).drop("__vq")
    return similarity.cosine_topk(members, "embedding", "vec_id", qvec, k=10)


@register("mmr_diversify", oracle=lambda: _mmr_oracle(k=10, lam=0.5, n_candidates=50))
def _mmr_diversify(spark, sf):
    """MMR-diversified top-10 (lam=0.5) from the exact cosine top-50
    candidate list for query vec 0 — relevance traded against redundancy.
    Only stage 1 touches the corpus; the greedy loop runs on the bounded
    candidate batch. Oracle: the k-step loop unrolled as chained CTEs."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.mmr_select(
        e, "embedding", "vec_id", qvec, k=10, lam=0.5, n_candidates=50
    )


@register("hybrid_rrf_topk", oracle=lambda: f"""
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
            bm25 AS (
              SELECT p.doc AS id, ROUND(SUM(
                       ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
                         * (p.tf * (1.2 + 1.0))
                         / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
                     ), 6) AS score
              FROM postings p
              JOIN dfreq f USING (token)
              JOIN lengths l USING (doc)
              CROSS JOIN stats s
              GROUP BY p.doc
              ORDER BY score DESC, id ASC LIMIT 50
            ),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id = 0),
            cos AS (
              SELECT vec_id AS id,
                     ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), q.qe)
                           / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                    CAST(embedding AS DOUBLE[])))
                              * sqrt(list_dot_product(q.qe, q.qe))), 4) AS score
              FROM embeddings, q
              ORDER BY score DESC, id ASC
              LIMIT 50
            ),
            ranked AS (
              SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rnk
              FROM bm25
              UNION ALL
              SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rnk
              FROM cos
            )
            SELECT id AS doc_id, COUNT(*) AS n_lists,
                   ROUND(SUM(1.0 / (60.0 + rnk)), 6) AS rrf_score
            FROM ranked GROUP BY id
            ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
        """)
def _hybrid_rrf_topk(spark, sf):
    """Hybrid retrieval: BM25 lexical top-50 + embedding-cosine top-50
    fused by reciprocal-rank fusion (k0=60), final top-10. Documents and
    embeddings share the id space (doc_id == vec_id in the fixtures), so
    the two candidate lists fuse directly. Both inputs are bounded top-N
    lists, so fusion is metadata-sized regardless of corpus scale."""
    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    lex = ranking.bm25_topk(
        d, "text", "doc_id", ["spark", "window", "dup"], k=50
    ).select("doc_id", "score")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    sem = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=50).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine_sim").alias("score")
    )
    return ranking.rrf_fuse([lex, sem], "doc_id", "score", k=10, k0=60)


@register("quantize_embeddings", oracle="""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            s AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
            q AS (SELECT vec_id, v, scale,
                         CASE WHEN scale = 0
                              THEN list_transform(v, x -> CAST(0 AS INTEGER))
                              ELSE list_transform(v, x -> CAST(round(x * 127.0 / scale, 0) AS INTEGER))
                         END AS qv
                  FROM s)
            SELECT vec_id, ROUND(scale, 6) AS scale,
                   array_to_string(qv, ',') AS qvec_csv,
                   ROUND(sqrt(list_reduce(
                         list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len(v) + 1),
                           i -> (v[i] - CAST(qv[i] AS DOUBLE) * scale / 127.0)
                                * (v[i] - CAST(qv[i] AS DOUBLE) * scale / 127.0))),
                         (acc, x) -> acc + x)), 6) AS recon_err
            FROM q
        """)
def _quantize_embeddings(spark, sf):
    """Symmetric int8 embedding quantization with reconstruction error."""
    return similarity.quantize_embeddings(
        _t(spark, sf, "embeddings"), "embedding", "vec_id"
    )


cos = (
    "ROUND(list_dot_product(s.v, q.qe)"
    " / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(q.qe, q.qe))), 4)"
)


@cache
def ann_planes():
    return similarity.random_hyperplanes(64, 8, 42)


@cache
def ann_sig_cte():
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v, ({sig_terms(ann_planes())}) AS bucket FROM e),
        q AS (SELECT v AS qe, bucket AS qb FROM sig WHERE vec_id = 0)
    """


@register("ann_recall_lsh", oracle=lambda: ann_sig_cte()
        + f"""
            , approx AS (
              SELECT s.vec_id
              FROM sig s, q
              WHERE s.bucket = q.qb
              ORDER BY {cos} DESC, s.vec_id ASC
              LIMIT 10
            ),
            exact AS (
              SELECT s.vec_id
              FROM sig s, q
              ORDER BY {cos} DESC, s.vec_id ASC
              LIMIT 10
            )
            SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS k_exact,
                   CAST((SELECT count(*) FROM exact WHERE vec_id IN
                         (SELECT vec_id FROM approx)) AS BIGINT) AS n_hits,
                   ROUND((SELECT count(*) FROM exact WHERE vec_id IN
                          (SELECT vec_id FROM approx))
                         / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall
        """)
def _ann_recall_lsh(spark, sf):
    """Recall@10 of the single-bucket LSH probe vs the exact scan — the
    sibling scorecard to `ann_recall_ivfpq`, measuring the other ANN
    family's recall dial (n_planes)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    approx = similarity.lsh_topk(e, "embedding", "vec_id", qvec, k=10)
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)
    return similarity.ann_recall(exact, approx, id_col="vec_id")


@register("embedding_drift_psi", oracle=lambda: f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            bl AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM bl WHERE vec_id < 8),
            {_IVF_RANKED},
            asg AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            ho AS (SELECT cell_id, COUNT(*) AS c_old FROM asg WHERE vec_id % 2 = 0 GROUP BY 1),
            hn AS (SELECT cell_id, COUNT(*) AS c_new FROM asg WHERE vec_id % 2 = 1 GROUP BY 1),
            merged AS (
              SELECT COALESCE(ho.c_old, 0) AS c_old, COALESCE(hn.c_new, 0) AS c_new
              FROM ho FULL OUTER JOIN hn USING (cell_id)
            ),
            tot AS (SELECT SUM(c_old) AS n_old, SUM(c_new) AS n_new FROM merged),
            terms AS (
              SELECT n_old, n_new,
                     (greatest(c_new / CAST(n_new AS DOUBLE), 1e-6)
                      - greatest(c_old / CAST(n_old AS DOUBLE), 1e-6))
                     * ln(greatest(c_new / CAST(n_new AS DOUBLE), 1e-6)
                          / greatest(c_old / CAST(n_old AS DOUBLE), 1e-6)) AS t
              FROM merged, tot
            )
            SELECT ROUND(SUM(t), 6) AS psi,
                   CAST(any_value(n_old) AS BIGINT) AS n_old,
                   CAST(any_value(n_new) AS BIGINT) AS n_new
            FROM terms
        """)
def _embedding_drift_psi(spark, sf):
    """Embedding-space drift: even-id vectors play the baseline snapshot,
    odd-id the current one; both assign to the baseline's deterministic
    IVF cells and PSI compares cell occupancy — the representation-space
    drift monitor (encoder/scraper/topic shifts move cell mass before
    any scalar aggregate changes)."""
    from pgferry_spark.operators.similarity import embedding_drift_psi

    e = _t(spark, sf, "embeddings")
    old = e.filter(F.col("vec_id") % 2 == 0)
    new = e.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift_psi(old, new, "embedding", "vec_id", n_cells=8)


# exact cosine of every candidate pair, each source's top 5 kept
_KNN_TOP5 = """scored AS (
          SELECT c.src, c.dst,
                 ROUND(list_dot_product(x.v, y.v)
                       / (sqrt(list_dot_product(x.v, x.v))
                          * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine_sim
          FROM cand c
          JOIN e x ON x.vec_id = c.src
          JOIN e y ON y.vec_id = c.dst
        ),
        knn AS (
          SELECT src, dst, cosine_sim, rnk
          FROM (SELECT *, row_number() OVER (PARTITION BY src
                                             ORDER BY cosine_sim DESC, dst ASC) AS rnk
                FROM scored)
          WHERE rnk <= 5
        )"""


@cache
def knn_edges_cte():
    return f"""
        {knn_bands_cte()},
        cand AS (
          SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
          FROM bl a JOIN bl b USING (band_id, band_val)
          WHERE a.vec_id <> b.vec_id
        ),
        {_KNN_TOP5}
    """


# two unrolled personalized-propagation rounds over the same kNN
# CTE: restart term reads the ORIGINAL seeds each round; only
# positive-weight edges contribute (matches the operator's guard)
@register("trust_propagation", oracle=lambda: knn_edges_cte() + """
            , seeds AS (
              SELECT vec_id,
                     CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS score
              FROM embeddings
            ),
            pos AS (SELECT src, dst, cosine_sim FROM knn WHERE cosine_sim > 0),
            r1c AS (
              SELECT p.src,
                     SUM(p.cosine_sim * s.score) / SUM(p.cosine_sim) AS nbr
              FROM pos p JOIN seeds s ON s.vec_id = p.dst
              GROUP BY p.src
            ),
            r1 AS (
              SELECT s.vec_id,
                     ROUND(CASE WHEN c.nbr IS NULL THEN s.score
                                ELSE 0.5 * s.score + 0.5 * c.nbr END, 6) AS score
              FROM seeds s LEFT JOIN r1c c ON c.src = s.vec_id
            ),
            r2c AS (
              SELECT p.src,
                     SUM(p.cosine_sim * r.score) / SUM(p.cosine_sim) AS nbr
              FROM pos p JOIN r1 r ON r.vec_id = p.dst
              GROUP BY p.src
            )
            SELECT s.vec_id,
                   ROUND(CASE WHEN c.nbr IS NULL THEN s.score
                              ELSE 0.5 * s.score + 0.5 * c.nbr END, 6) AS score
            FROM seeds s LEFT JOIN r2c c ON c.src = s.vec_id
        """)
def _trust_propagation(spark, sf):
    """Trusted-set diffusion: label-0 embeddings seed score 1.0, everyone
    else 0.0, and two rounds of personalized propagation over the kNN
    graph (same 24-plane/4-band config as `knn_graph`) spread trust to
    lookalike neighbors — graph-based curation without a model."""
    from pgferry_spark.operators.graph import propagate_scores
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    edges = knn_graph(e, "embedding", "vec_id", k=5, n_planes=24, bands=4)
    seeds = e.select(
        "vec_id",
        F.when(F.col("label") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("score"),
    )
    return propagate_scores(edges, seeds, alpha=0.5, iters=2)


@register("lsh_topk", oracle=lambda: ann_sig_cte()
        + f"""
            SELECT s.vec_id, {cos} AS cosine_sim
            FROM sig s, q
            WHERE s.bucket = q.qb
            ORDER BY cosine_sim DESC, s.vec_id ASC
            LIMIT 10
        """)
def _lsh_topk(spark, sf):
    """ANN via hyperplane-LSH bucket (approximate; no SQL oracle)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.lsh_topk(e, "embedding", "vec_id", qvec, k=10)


@cache
def margin_structs():
    return ", ".join(
        f"{{'am': abs(list_dot_product(qe, {plane_lit(p)})), 'i': {i}}}"
        for i, p in enumerate(ann_planes())
    )


@register("lsh_topk_multiprobe", oracle=lambda: ann_sig_cte()
        + f"""
            , m AS (SELECT qe, qb, [{margin_structs()}] AS ms FROM q),
            fl AS (
              SELECT qb, list_transform(list_slice(list_sort(ms), 1, 3), x -> x.i) AS f
              FROM m
            ),
            pr AS (
              SELECT unnest([qb, xor(qb, 1 << f[1]::INT), xor(qb, 1 << f[2]::INT),
                             xor(qb, 1 << f[3]::INT)]) AS pb
              FROM fl
            )
            SELECT s.vec_id, {cos} AS cosine_sim
            FROM sig s JOIN pr ON s.bucket = pr.pb CROSS JOIN q
            ORDER BY cosine_sim DESC, s.vec_id ASC
            LIMIT 10
        """)
def _lsh_topk_multiprobe(spark, sf):
    """Multi-probe LSH ANN: 4 probes over least-confident bit flips
    (approximate; no SQL oracle)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return similarity.lsh_topk_multiprobe(
        e, "embedding", "vec_id", qvec, k=10, n_probes=4
    )


@register("ivf_kmeans_assign")
def _ivf_kmeans(spark, sf):
    """IVF assignment over MLlib KMeans centroids (floats are iteration-
    dependent; rows-only check)."""
    e = _t(spark, sf, "embeddings")
    return similarity.ivf_assign_kmeans(
        e, "embedding", "vec_id", n_cells=8, fit_sample=2048
    )


# IVFADC replayed in SQL up to each candidate's ADC distance: IVF
# assignment, the nprobe=2 query-cell ranking, per-subspace PQ codes,
# and the ADC distance (per-subspace ROUND(list_distance,4) then
# sqrt-of-sum-of-squares, exactly the pq_encode convention) all from the
# same deterministic centroid/codebook stand-ins (vec_id < 8 / < 16)
_IVFADC_SCORED = f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            {_IVF_RANKED},
            assign AS (SELECT vec_id, cell_id FROM ranked WHERE rnk = 1),
            q AS (SELECT v AS qe FROM e WHERE vec_id = 0),
            qcells AS (SELECT cell_id FROM c CROSS JOIN q
                       ORDER BY ROUND(list_dot_product(q.qe, c.cvec), 4) DESC,
                                cell_id ASC
                       LIMIT 2),
            subs AS (SELECT vec_id, v, unnest(range(4)) AS sub FROM e),
            sv AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                          v[sub*16+1 : sub*16+16] AS subv
                   FROM subs),
            cb AS (SELECT sub, vec_id AS cell, subv AS cvec FROM sv WHERE vec_id < 16),
            dists AS (SELECT a.vec_id, a.sub, cb.cell,
                             ROUND(list_distance(a.subv, cb.cvec), 4) AS dist
                      FROM sv a JOIN cb ON cb.sub = a.sub),
            ranked2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                     ORDER BY dist ASC, cell ASC) AS rnk
                        FROM dists),
            best AS (SELECT vec_id, sub, cell FROM ranked2 WHERE rnk = 1),
            qd AS (SELECT b.vec_id, b.sub,
                          ROUND(list_distance(q.qe[b.sub*16+1 : b.sub*16+16],
                                              cb.cvec), 4) AS d
                   FROM best b
                   JOIN cb ON cb.sub = b.sub AND cb.cell = b.cell
                   CROSS JOIN q),
            scored AS (SELECT vec_id, ROUND(sqrt(SUM(d * d)), 4) AS approx_dist
                       FROM qd GROUP BY vec_id)"""


@register("ivf_pq_topk", oracle=lambda: f"""
            {_IVFADC_SCORED}
            SELECT s.vec_id, CAST(a.cell_id AS INT) AS cell_id, s.approx_dist
            FROM scored s
            JOIN assign a ON a.vec_id = s.vec_id
            JOIN qcells qc ON qc.cell_id = a.cell_id
            ORDER BY s.approx_dist ASC, s.vec_id ASC
            LIMIT 10
        """)
def _ivf_pq_topk(spark, sf):
    """FAISS-style IVFADC: one-scan (cell, PQ codes) index build, then a
    probe that filters 2 of 8 cells and scores by m literal-array lookups
    per row — raw vectors never touched at probe time. At 100 TB the
    index table is written bucketed by cell_id and this probe reads two
    buckets; here build+probe fuse into one job."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    books = similarity.pq_codebooks(e, "embedding", "vec_id", m=4, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    return similarity.ivf_pq_topk(
        idx, qvec, cents, books, id_col="vec_id", k=10, nprobe=2
    )


@register("ann_recall_ivfpq", oracle=lambda: f"""
            {_IVFADC_SCORED},
            approx AS (SELECT s.vec_id
                       FROM scored s
                       JOIN assign a ON a.vec_id = s.vec_id
                       JOIN qcells qc ON qc.cell_id = a.cell_id
                       ORDER BY s.approx_dist ASC, s.vec_id ASC
                       LIMIT 10),
            exact AS (SELECT e.vec_id
                      FROM e CROSS JOIN q
                      ORDER BY ROUND(list_dot_product(e.v, q.qe)
                                     / (sqrt(list_dot_product(e.v, e.v))
                                        * sqrt(list_dot_product(q.qe, q.qe))), 4) DESC,
                               e.vec_id ASC
                      LIMIT 10)
            SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS k_exact,
                   CAST((SELECT count(*) FROM exact WHERE vec_id IN
                         (SELECT vec_id FROM approx)) AS BIGINT) AS n_hits,
                   ROUND((SELECT count(*) FROM exact WHERE vec_id IN
                          (SELECT vec_id FROM approx))
                         / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall
        """)
def _ann_recall_ivfpq(spark, sf):
    """Recall@10 of the IVFADC probe against the exact cosine scan — the
    'measure, don't guess' scorecard for the ANN recall dials (nprobe,
    m, k). Both sides are top-k tables; the comparison is a broadcast
    semi-join + 1-row aggregate, corpus-size independent."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    books = similarity.pq_codebooks(e, "embedding", "vec_id", m=4, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    approx = similarity.ivf_pq_topk(
        idx, qvec, cents, books, id_col="vec_id", k=10, nprobe=2
    )
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)
    return similarity.ann_recall(exact, approx, id_col="vec_id")


@register("knn_graph", oracle=lambda: knn_edges_cte() + """
            SELECT src, dst, cosine_sim, CAST(rnk AS INT) AS rank
            FROM knn
        """)
def _knn_graph(spark, sf):
    """Approximate kNN graph over embeddings: per-vector top-5 neighbors
    among LSH band-bucket candidates (24 planes / 4 six-bit bands, seed
    42) — the substrate for diversity sampling and graph-based curation.

    Band width is the candidate-volume dial: the near-dup family's 2-bit
    bands put ~1/4 of the corpus in each bucket, which is right for
    recall-first dedup but makes a kNN graph's directed-edge volume
    sum(bucket²) — measured 3.1 s at sf0.1. Six-bit bands (64 buckets)
    cut candidates ~256x for a graph that only needs NEAR neighbors."""
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    return knn_graph(e, "embedding", "vec_id", k=5, n_planes=24, bands=4, dim=64)


# capped twin: identical band buckets, with buckets over the cap dropped
# via the same count rule the Spark semi-join applies (HAVING <= 15)
@cache
def knn_edges_capped_cte():
    return f"""
        {knn_bands_cte()},
        keep AS (
          SELECT band_id, band_val FROM bl
          GROUP BY band_id, band_val HAVING COUNT(*) <= 15
        ),
        blc AS (SELECT bl.* FROM bl JOIN keep USING (band_id, band_val)),
        cand AS (
          SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
          FROM blc a JOIN blc b USING (band_id, band_val)
          WHERE a.vec_id <> b.vec_id
        ),
        {_KNN_TOP5}
    """


@register("knn_graph_capped", oracle=lambda: knn_edges_capped_cte() + """
            SELECT src, dst, cosine_sim, CAST(rnk AS INT) AS rank
            FROM knn
        """)
def _knn_graph_capped(spark, sf):
    """The PRODUCTION kNN-graph configuration: same 24-plane/4-band graph
    as `knn_graph` with the hot-bucket cap engaged — a degenerate band
    value (near-zero/boilerplate embeddings sharing one sign pattern)
    would otherwise concentrate an O(B²) matmul on one executor. The cap
    here (15 ≈ 2× the median bucket at the gate SF, where the largest
    bucket is 18) is chosen so the DROP path actually executes at
    sf0.01; production tunes it to a few× the expected bucket size. The
    oracle replays the cap as a HAVING filter over the same bucket
    counts, so the gate certifies the cap's exact drop/keep semantics,
    not just its existence."""
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    return knn_graph(
        e, "embedding", "vec_id", k=5, n_planes=24, bands=4, dim=64,
        max_bucket=15,
    )


@register("ivf_pq_kmeans_topk")
def _ivf_pq_kmeans_topk(spark, sf):
    """IVFADC probe over the PRODUCTION index configuration: MLlib-KMeans
    coarse centroids and per-subspace Lloyd-trained PQ codebooks (m=8)
    instead of the deterministic id<k stand-ins, wired through the same
    ivf_pq_index path, with the ADC shortlist re-ranked exactly
    (shortlist=50, nprobe=2). Rows-only at the gate (k-means floats are
    iteration-order sensitive); the verification instruments are the
    `ann_recall_ivfpq_kmeans` scorecard and the oracle-checked
    `ivf_pq_rerank_topk` twin that certifies the identical composition
    on deterministic index metadata."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.kmeans_centroids(e, "embedding", "vec_id", n_cells=8, seed=42)
    books = similarity.pq_codebooks_kmeans(e, "embedding", "vec_id", m=8, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    return similarity.ivf_pq_topk_rerank(
        idx, e, qvec, cents, books, "embedding", id_col="vec_id",
        k=10, shortlist=50, nprobe=2,
    )


@register("ann_recall_ivfpq_kmeans")
def _ann_recall_ivfpq_kmeans(spark, sf):
    """Recall@10 of the production IVFADC probe (k-means centroids,
    trained codebooks, exact re-rank) vs the exact cosine scan — the
    deterministic-vs-production comparison the recall table in
    docs/SCALE.md records (~0.2 ADC-only → ~0.7+ re-ranked). Rows-only
    (k-means floats)."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.kmeans_centroids(e, "embedding", "vec_id", n_cells=8, seed=42)
    books = similarity.pq_codebooks_kmeans(e, "embedding", "vec_id", m=8, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    approx = similarity.ivf_pq_topk_rerank(
        idx, e, qvec, cents, books, "embedding", id_col="vec_id",
        k=10, shortlist=50, nprobe=2,
    )
    exact = similarity.cosine_topk(e, "embedding", "vec_id", qvec, k=10)
    return similarity.ann_recall(exact, approx, id_col="vec_id")


# the two-stage production probe replayed in SQL: identical CTE
# chain to ivf_pq_topk up to the ADC scoring, then the 50-row ADC
# shortlist is re-ranked by EXACT cosine — certifying the
# shortlist cut rule (approx_dist ASC, id ASC) and the rerank
@register("ivf_pq_rerank_topk", oracle=lambda: f"""
            {_IVFADC_SCORED},
            shortlist AS (SELECT s.vec_id
                          FROM scored s
                          JOIN assign a ON a.vec_id = s.vec_id
                          JOIN qcells qc ON qc.cell_id = a.cell_id
                          ORDER BY s.approx_dist ASC, s.vec_id ASC
                          LIMIT 50)
            SELECT e.vec_id,
                   ROUND(list_dot_product(e.v, q.qe)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cosine_sim
            FROM e JOIN shortlist USING (vec_id) CROSS JOIN q
            ORDER BY cosine_sim DESC, e.vec_id ASC
            LIMIT 10
        """)
def _ivf_pq_rerank_topk(spark, sf):
    """ADC-shortlist → exact-re-rank composition on DETERMINISTIC index
    metadata (id<8 centroids, id<16 codebooks) so the whole two-stage
    probe — cell routing, PQ codes, ADC shortlist ranking, raw-vector
    fetch, cosine re-rank — replays in ANSI SQL at the oracle gate. The
    `ivf_pq_kmeans_topk` production twin runs the same composition on
    trained metadata."""
    e = _t(spark, sf, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.ivf_centroids(e, "embedding", "vec_id", n_cells=8)
    books = similarity.pq_codebooks(e, "embedding", "vec_id", m=4, k=16)
    idx = similarity.ivf_pq_index(
        e, "embedding", "vec_id", centroids=cents, codebooks=books
    )
    return similarity.ivf_pq_topk_rerank(
        idx, e, qvec, cents, books, "embedding", id_col="vec_id",
        k=10, shortlist=50, nprobe=2,
    )


# both kNN directions from one banded CTE; 4dp cosines average
# per side, margin = cos / mean-neighborhood, rounded at the edge
@register("margin_mine", oracle=lambda: f"""
            {knn_bands_cte()},
            cand AS (
              SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid,
                              q.vec_id % 10 = 0 AS fwd_dir
              FROM bl q JOIN bl c USING (band_id, band_val)
              WHERE (q.vec_id % 10 = 0) <> (c.vec_id % 10 = 0)
            ),
            scored AS (
              SELECT cd.qid, cd.cid, cd.fwd_dir,
                     ROUND(list_dot_product(x.v, y.v)
                           / (sqrt(list_dot_product(x.v, x.v))
                              * sqrt(list_dot_product(y.v, y.v))), 4) AS cs
              FROM cand cd
              JOIN e x ON x.vec_id = cd.qid
              JOIN e y ON y.vec_id = cd.cid
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY qid, fwd_dir
                                           ORDER BY cs DESC, cid ASC) AS rnk
              FROM scored
            ),
            fwd AS (SELECT qid, cid, cs FROM ranked WHERE fwd_dir AND rnk <= 5),
            bwd AS (SELECT qid, cid, cs FROM ranked WHERE NOT fwd_dir AND rnk <= 5),
            fa AS (SELECT qid, AVG(cs) AS a_fwd FROM fwd GROUP BY qid),
            ba AS (SELECT qid AS cid, AVG(cs) AS a_bwd FROM bwd GROUP BY qid)
            SELECT f.qid AS left_id, f.cid AS right_id, f.cs AS cosine_sim,
                   ROUND(f.cs / ((fa.a_fwd + ba.a_bwd) / 2.0), 4) AS margin
            FROM fwd f JOIN fa ON fa.qid = f.qid JOIN ba ON ba.cid = f.cid
            WHERE ROUND(f.cs / ((fa.a_fwd + ba.a_bwd) / 2.0), 4) >= 1.02
        """)
def _margin_mine(spark, sf):
    """Margin-based pair mining (the LASER/CCMatrix bitext recipe): every
    10th embedding is the source set, the rest the target pool; banded
    kNN joins both ways, margin = cos / mean-of-neighborhood-cosines,
    threshold 1.02 — density-normalized pairing instead of a brittle
    absolute-cosine cut."""
    from pgferry_spark.operators.similarity import margin_mine

    e = _t(spark, sf, "embeddings")
    src = e.filter(F.col("vec_id") % 10 == 0)
    tgt = e.filter(F.col("vec_id") % 10 != 0)
    return margin_mine(
        src, tgt, "embedding", "vec_id", k=5, threshold=1.02,
        n_planes=24, bands=4, dim=64,
    )


# same chain as knn_graph with the window widened to 15 and the
# semi-hard band cut applied on top
@register("hard_negatives", oracle=lambda: knn_edges_cte().replace(
            "WHERE rnk <= 5", "WHERE rnk <= 15"
        ) + """
            SELECT src, dst, cosine_sim, CAST(rnk AS INT) AS rank
            FROM knn
            WHERE rnk >= 6
        """)
def _hard_negatives(spark, sf):
    """Semi-hard negative mining for contrastive training: the kNN-graph
    neighbors ranked 6-15 — similar enough to be informative, not so
    close they're positives (the FaceNet semi-hard band). Pure
    composition over the capped kNN graph; pairs with `negative_samples`
    (uniform negatives) to build a full contrastive batch."""
    from pgferry_spark.operators.similarity import knn_graph

    e = _t(spark, sf, "embeddings")
    g = knn_graph(e, "embedding", "vec_id", k=15, n_planes=24, bands=4, dim=64)
    return g.filter(F.col("rank") >= 6)


@register("negative_samples", oracle="""
            WITH docs AS (
              SELECT doc_id AS m,
                     ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b
              FROM documents
            ),
            anchors AS (
              SELECT doc_id AS anchor_id, unnest(range(4)) AS neg_slot
              FROM documents
            ),
            routed AS (
              SELECT anchor_id, neg_slot,
                     ('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || '#'
                                         || CAST(neg_slot AS VARCHAR) || '#7'),
                                     1, 8))::BIGINT % 64 AS tb
              FROM anchors
            ),
            cand AS (
              SELECT r.anchor_id, r.neg_slot, d.m,
                     md5(CAST(d.m AS VARCHAR) || '#' || CAST(r.anchor_id AS VARCHAR)
                         || '#' || CAST(r.neg_slot AS VARCHAR)) AS pick
              FROM routed r JOIN docs d ON d.b = r.tb
              WHERE d.m <> r.anchor_id
            )
            SELECT anchor_id, CAST(neg_slot AS INT) AS neg_slot,
                   m AS negative_id
            FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id, neg_slot
                                               ORDER BY pick ASC, m ASC) AS rn
                  FROM cand)
            WHERE rn = 1
        """)
def _negative_samples(spark, sf):
    """Contrastive-training negative sampling: 4 deterministic pseudo-
    random partner docs per anchor via md5 bucket routing + min-hash
    pick — RNG-free, rerun-stable, candidate-linear join."""
    from pgferry_spark.operators.curate import negative_samples

    d = _t(spark, sf, "documents")
    return negative_samples(d, "doc_id", k=4, n_buckets=64, seed=7)


@register("pq_encode", oracle="""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            subs AS (SELECT vec_id, v, unnest(range(4)) AS sub FROM e),
            sv AS (SELECT vec_id, CAST(sub AS INT) AS sub,
                          v[sub*16+1 : sub*16+16] AS subv
                   FROM subs),
            cb AS (SELECT sub, vec_id AS cell, subv AS cvec FROM sv WHERE vec_id < 16),
            dists AS (SELECT a.vec_id, a.sub, cb.cell,
                             ROUND(list_distance(a.subv, cb.cvec), 4) AS dist
                      FROM sv a JOIN cb ON cb.sub = a.sub),
            ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                    ORDER BY dist ASC, cell ASC) AS rnk
                       FROM dists),
            best AS (SELECT vec_id, sub, cell, dist FROM ranked WHERE rnk = 1)
            SELECT vec_id,
                   string_agg(CAST(cell AS VARCHAR), ',' ORDER BY sub) AS codes_csv,
                   ROUND(sqrt(SUM(dist * dist)), 4) AS recon_err
            FROM best GROUP BY vec_id
        """)
def _pq_encode(spark, sf):
    """Product quantization: 64-dim vectors → 4 one-byte codes (nearest
    subspace centroid by 4dp-rounded L2, ties to lowest code) + total
    reconstruction error. Map-only literal-codebook register math."""
    from pgferry_spark.operators.similarity import pq_encode

    e = _t(spark, sf, "embeddings")
    out = pq_encode(e, "embedding", "vec_id", m=4, k=16)
    return out.select(
        "vec_id",
        F.array_join("codes", ",").alias("codes_csv"),
        "recon_err",
    )


@register("semdedup", oracle=lambda: f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            c AS (SELECT vec_id AS cell_id, v AS cvec FROM e WHERE vec_id < 8),
            {_IVF_RANKED},
            assign AS (SELECT vec_id, CAST(cell_id AS INT) AS cell_id
                       FROM ranked WHERE rnk = 1),
            nv AS (SELECT a.vec_id, a.cell_id,
                          list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))) AS u
                   FROM assign a JOIN e ON e.vec_id = a.vec_id)
            SELECT a.vec_id, a.cell_id,
                   NOT EXISTS (
                     SELECT 1 FROM nv b
                     WHERE b.cell_id = a.cell_id AND b.vec_id < a.vec_id
                       AND ROUND(list_dot_product(a.u, b.u), 4) >= 0.35
                   ) AS is_kept
            FROM nv a
        """)
def _semdedup(spark, sf):
    """SemDeDup: cluster embeddings into IVF cells (map-only literal-centroid
    argmax), then drop rows with a lower-id ≥0.35-cosine neighbor in the
    same cell — per-cell BLAS verify, never corpus-quadratic."""
    from pgferry_spark.operators.dedup import semdedup

    e = _t(spark, sf, "embeddings")
    out = semdedup(e, "embedding", "vec_id", threshold=0.35, n_cells=8)
    return out.withColumnRenamed("id", "vec_id")
