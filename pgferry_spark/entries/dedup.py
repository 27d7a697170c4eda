"""Near- and exact-duplicate entries: MinHash, SimHash, winnowing and substrings."""

from __future__ import annotations

from functools import cache

from pyspark.sql import functions as F

from pgferry_spark.entries.ann import _embedding_near_dup
from pgferry_spark.entries.common import lake_table as _t, _LTOKS, _QUALITY
from pgferry_spark.entries.registry import register
from pgferry_spark.functions import text as T
from pgferry_spark.operators import dedup
from pgferry_spark.utils import fan_out


# winnowing fingerprints (k=5, w=4): same structure as the Spark Column
# pipeline — char 5-gram md5-32 hashes, window-of-4 minima, distinct
winnow_cte = """
        WITH h AS (
          SELECT doc_id,
                 CASE WHEN length(text) < 5 THEN CAST([] AS BIGINT[])
                      ELSE list_transform(range(1, length(text) - 3),
                             i -> ('0x' || substr(md5(substr(text, i, 5)), 1, 8))::BIGINT)
                 END AS h
          FROM documents
        ),
        wf AS (
          SELECT doc_id,
                 list_distinct(
                   CASE WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
                        WHEN len(h) <= 4 THEN [list_min(h)]
                        ELSE list_transform(range(1, len(h) - 2),
                                            i -> list_min(list_slice(h, i, i + 3)))
                   END) AS fps
          FROM h
        )
    """


@register("winnow_summary", oracle=lambda: winnow_cte
        + """
            SELECT doc_id,
                   CAST(len(fps) AS INTEGER) AS n_fp,
                   list_min(fps) AS min_fp,
                   list_max(fps) AS max_fp,
                   COALESCE(CAST(list_sum(fps) AS BIGINT), 0) AS sum_fp
            FROM wf
        """)
def _winnow_summary(spark, sf):
    """Winnowing (rolling-hash) fingerprints, summarized per doc: compact
    but fully value-determined check of the fingerprint set (count + min +
    max + bigint sum).  Fingerprints come from the Arrow-batched UDF
    (functions/text.py winnow_fingerprints_batch): the higher-order-lambda
    expression form is interpreted, ~180 ms/doc; the UDF is ~1 ms/doc with
    bit-identical output, so the md5 oracle is unchanged.  fan_out first —
    a single parquet file is one partition, serializing the UDF on a core."""
    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    fps = d.select(
        "doc_id", T.winnow_fingerprints_batch(k=5, w=4)(F.col("text")).alias("fps")
    )
    return fps.select(
        "doc_id",
        F.size("fps").alias("n_fp"),
        F.array_min("fps").alias("min_fp"),
        F.array_max("fps").alias("max_fp"),
        F.aggregate("fps", F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_fp"),
    )


def _winnow_fp_table(spark, sf):
    """Shared (doc_id, fp) winnow fingerprint table: Arrow-batched
    fingerprinting (see _winnow_summary), exploded AFTER the UDF result is
    a materialized column so the generator never re-evaluates the
    fingerprint computation, persisted because the self-join in
    _winnow_shared_pairs reads it twice."""
    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return (
        d.select(
            "doc_id",
            F.explode_outer(
                T.winnow_fingerprints_batch(k=5, w=4)(F.col("text"))
            ).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
        .persist()
    )


def _winnow_pairs(spark, sf, max_df: int | None = None):
    """Shared pair-generation core; ``max_df`` drops fingerprints whose
    document frequency exceeds the cap BEFORE the self-join (left-semi
    against the small broadcast fingerprint whitelist)."""
    fps = _winnow_fp_table(spark, sf)
    if max_df is not None:
        good = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(good), "fp", "left_semi")
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= 50)
    )


@register("winnow_shared_pairs", oracle=lambda: winnow_cte
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
            FROM ex a JOIN ex b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 50
        """)
def _winnow_shared_pairs(spark, sf):
    """MOSS-style near-dup candidates: doc pairs sharing >= 50 winnowed
    fingerprints (any shared substring of length >= k+w-1 = 8 chars shares
    a fingerprint; the synthetic corpus shares template phrasing, so the
    bar selects genuinely heavy overlap). One explode + one equi-self-join
    on the fingerprint value — never all-pairs.

    SCALE CAVEAT (measured, docs/SCALE.md): on a vocabulary-saturated
    corpus the self-join generates sum(df^2) intermediate rows — 2e8 at
    sf0.1, where one boilerplate fingerprint reaches 78% document
    frequency. Production runs should use the _capped variant below."""
    return _winnow_pairs(spark, sf)


@register("winnow_shared_pairs_capped", oracle=lambda: winnow_cte
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            good AS (SELECT fp FROM ex GROUP BY fp HAVING COUNT(*) <= 100),
            exg AS (SELECT ex.doc_id, ex.fp FROM ex JOIN good USING (fp))
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
            FROM exg a JOIN exg b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= 50
        """)
def _winnow_shared_pairs_capped(spark, sf):
    """The production-scale winnow pair generator: fingerprints with
    document frequency > 100 are dropped before the self-join (MOSS's own
    over-common-fingerprint rule). A fingerprint shared by most of the
    corpus is template boilerplate — it bloats the join quadratically
    (sum(df^2)) while carrying no near-dup signal; capping bounds the join
    at n_fps x cap^2 regardless of corpus size. Same >= 50 shared bar,
    now counting only discriminative fingerprints."""
    return _winnow_pairs(spark, sf, max_df=100)


@register("dedup_clusters", oracle=lambda: winnow_cte.replace("WITH h AS", "WITH RECURSIVE h AS")
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ex a JOIN ex b USING (fp)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING COUNT(*) >= 50
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            )
            SELECT src AS doc_id, MIN(dst) AS cluster_id
            FROM reach GROUP BY src
        """)
def _dedup_clusters(spark, sf):
    """Connected components over the winnow near-dup pair graph: pairwise
    candidates -> transitive keep-one-per-cluster groups (min-label
    propagation; oracle = recursive-CTE transitive closure)."""
    return dedup.dedup_clusters(_winnow_shared_pairs(spark, sf))


@register("fingerprint_dedup", oracle="""
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM documents GROUP BY 1
        """)
def _fingerprint_dedup(spark, sf):
    """Fingerprint dedup: one keeper per normalized-text fingerprint."""
    d = _t(spark, sf, "documents")
    fp = d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("dup_count")
    )


@register("exact_dedup_groups", oracle="""
            SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM documents GROUP BY text
        """)
def _exact_dedup(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.exact_dup_groups(d, "text", "doc_id")


@register("lsh_candidate_pairs_capped")
def _lsh_pairs_capped(spark, sf):
    """Production LSH candidate pairs: xxhash64 leaf hashes (the JVM
    intrinsic fast path) with the hot-bucket cap ON (max_bucket=3, below
    the max observed bucket at the test SFs so the drop path executes).
    Rows-only check by design — xxhash64 has no SQL twin; the md5 twin
    `lsh_candidate_pairs_md5_capped` replays the identical drop/keep rule
    at the oracle gate. This entry keeps the intrinsic-hash production
    posture driver-visible; the library fast path stays pinned by
    test_plan_shapes/test_dedup."""
    d = _t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3,
        hash_fn="xxhash64", max_bucket=3,
    )


@cache
def sig12():
    return ", ".join(f"MIN(h1 + {i} * h2) AS s{i}" for i in range(12))


@cache
def band_hash_cases():
    return " ".join(
        f"WHEN band_id = {b} THEN md5(concat_ws('|', "
        + ", ".join(f"CAST(s{b * 3 + r} AS VARCHAR)" for r in range(3))
        + "))"
        for b in range(4)
    )


@cache
def minhash_cte():
    return f"""
        WITH tk AS (
          SELECT doc_id, {_LTOKS} AS toks
          FROM documents
        ),
        gr AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) < 3 THEN []
                      ELSE list_transform(range(len(toks) - 2),
                                          i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                 END) AS grams
          FROM tk
        ),
        ex AS (
          SELECT doc_id,
                 ('0x' || substr(md5(gram), 1, 14))::BIGINT AS h1,
                 ('0x' || substr(md5(gram), 17, 14))::BIGINT AS h2
          FROM (SELECT doc_id, unnest(grams) AS gram FROM gr)
        ),
        sig AS (SELECT doc_id, {sig12()} FROM ex GROUP BY doc_id),
        bands AS (SELECT * FROM (VALUES (0),(1),(2),(3)) b(band_id)),
        buckets AS (
          SELECT doc_id, band_id, CASE {band_hash_cases()} END AS band_hash
          FROM sig CROSS JOIN bands
        )
    """


@register("lsh_candidate_pairs_md5_capped", oracle=lambda: minhash_cte()
        + """
            , kept AS (
              SELECT band_id, band_hash FROM buckets
              GROUP BY 1, 2 HAVING COUNT(*) <= 3
            ),
            kb AS (
              SELECT b.doc_id, b.band_id, b.band_hash
              FROM buckets b
              JOIN kept k ON b.band_id = k.band_id AND b.band_hash = k.band_hash
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM kb a JOIN kb b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id
        """)
def _lsh_pairs_md5_capped(spark, sf):
    """Oracle-checkable twin of the capped production pairs: same
    max_bucket=3 semi-join drop, md5 band hashes the SQL oracle replays
    as GROUP BY ... HAVING COUNT(*) <= 3."""
    d = _t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3, max_bucket=3
    )


@register("minhash_buckets_md5", oracle=lambda: minhash_cte() + "SELECT doc_id, band_id, band_hash FROM buckets")
def _minhash_buckets_md5(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.lsh_bucket_table(d, "text", "doc_id", num_hashes=12, bands=4, shingle=3)


@register("lsh_candidate_pairs_md5", oracle=lambda: minhash_cte()
        + """
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM buckets a JOIN buckets b USING (band_id, band_hash)
            WHERE a.doc_id < b.doc_id
        """)
def _lsh_pairs_md5(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.lsh_candidate_pairs(d, "text", "doc_id", num_hashes=12, bands=4, shingle=3)


@register("jaccard_adjacent", oracle=lambda: f"""
            WITH tk AS (
              SELECT doc_id, {_LTOKS} AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS g
              FROM tk
            ), ex AS (
              SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ), inter AS (
              SELECT p.id_a, p.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM pairs p
              JOIN ex x ON x.doc_id = p.id_a
              JOIN ex y ON y.doc_id = p.id_b AND y.gram = x.gram
              GROUP BY p.id_a, p.id_b
            )
            SELECT p.id_a, p.id_b,
                   COALESCE(ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4), 0.0) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        """)
def _jaccard_adjacent(spark, sf):
    """Exact 3-gram Jaccard over consecutive-id doc pairs (verify step)."""
    d = _t(spark, sf, "documents")
    a = d.select(F.col("doc_id").alias("id_a"))
    b = d.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return dedup.jaccard_pairs(d, pairs, "text", "doc_id", n=3)


@register("containment_adjacent", oracle=lambda: f"""
            WITH tk AS (
              SELECT doc_id, {_LTOKS} AS toks
              FROM documents
            ), grams AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS g
              FROM tk
            ), ex AS (
              SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM grams
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            ), inter AS (
              SELECT p.id_a, p.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM pairs p
              JOIN ex x ON x.doc_id = p.id_a
              JOIN ex y ON y.doc_id = p.id_b AND y.gram = x.gram
              GROUP BY p.id_a, p.id_b
            )
            SELECT p.id_a, p.id_b,
                   COALESCE(ROUND(CAST(c AS DOUBLE) / n_a, 4), 0.0) AS containment_a,
                   COALESCE(ROUND(CAST(c AS DOUBLE) / n_b, 4), 0.0) AS containment_b
            FROM pairs p
            LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        """)
def _containment_adjacent(spark, sf):
    """Asymmetric 3-gram containment over the same adjacent-id pairs —
    the excerpt/quote detector Jaccard structurally misses."""
    d = _t(spark, sf, "documents")
    a = d.select(F.col("doc_id").alias("id_a"))
    b = d.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return dedup.containment_pairs(d, pairs, "text", "doc_id", n=3)


# recall and precision of the candidate pairs ``approx`` against the
# exact ground-truth pairs ``exact``
_PAIR_RECALL = """hit AS (SELECT e.id_a, e.id_b FROM exact e JOIN approx USING (id_a, id_b))
            SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
                   CAST((SELECT COUNT(*) FROM approx) AS BIGINT) AS n_approx,
                   CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
                   CASE WHEN (SELECT COUNT(*) FROM exact) > 0 THEN
                     ROUND((SELECT COUNT(*) FROM hit)
                           / CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 4)
                   END AS recall,
                   CASE WHEN (SELECT COUNT(*) FROM approx) > 0 THEN
                     ROUND((SELECT COUNT(*) FROM hit)
                           / CAST((SELECT COUNT(*) FROM approx) AS DOUBLE), 4)
                   END AS "precision\""""


@register("dedup_pair_recall", oracle=lambda: winnow_cte
        + f"""
            , wex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            good AS (SELECT fp FROM wex GROUP BY fp HAVING COUNT(*) <= 100),
            exg AS (SELECT wex.doc_id, wex.fp FROM wex JOIN good USING (fp)),
            wpairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM exg a JOIN exg b USING (fp)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING COUNT(*) >= 50
            ),
            approx AS (SELECT id_a, id_b FROM wpairs),
            tk AS (SELECT doc_id, {_LTOKS} AS toks FROM documents),
            jg AS (
              SELECT doc_id,
                     list_distinct(CASE WHEN len(toks) < 3 THEN []
                          ELSE list_transform(range(len(toks) - 2),
                                              i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
                     END) AS g
              FROM tk
            ),
            jx AS (SELECT doc_id, len(g) AS n, unnest(g) AS gram FROM jg),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM jx x
              JOIN jx y ON y.gram = x.gram AND y.doc_id > x.doc_id
              GROUP BY 1, 2
            ),
            exact AS (
              SELECT id_a, id_b FROM inter
              WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
            ),
            {_PAIR_RECALL}
        """)
def _dedup_pair_recall(spark, sf):
    """Recall/precision of the capped winnow candidate generator against
    the EXACT >=0.5-Jaccard all-pairs ground truth (gram-blocked audit;
    at 100 TB this runs on a sample, which is precisely how production
    measures a blocker's recall) — 'measure, don't guess' for the dedup
    family, the pair-set twin of ann_recall."""
    d = _t(spark, sf, "documents")
    exact = dedup.jaccard_all_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    approx = _winnow_pairs(spark, sf, max_df=100)
    return dedup.pair_recall(exact, approx)


# MinHash band collisions verified by exact 3-gram Jaccard: shared-gram
# counts per candidate pair
_VERIFIED_CANDIDATES = """, cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM buckets a JOIN buckets b USING (band_id, band_hash)
              WHERE a.doc_id < b.doc_id
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT c.id_a, c.id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM cand c
              JOIN jx x ON x.doc_id = c.id_a
              JOIN jx y ON y.doc_id = c.id_b AND y.gram = x.gram
              GROUP BY c.id_a, c.id_b
            )"""


@register("near_dup_verified", oracle=lambda: minhash_cte()
        + f"""
            {_VERIFIED_CANDIDATES}
            SELECT id_a, id_b,
                   ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) AS jaccard
            FROM inter
            WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
        """)
def _near_dup_verified(spark, sf):
    """The measured generate→verify composition the scorecards imply:
    MinHash-LSH candidates (measured recall 1.0) verified by exact
    n-gram Jaccard at >=0.5 (measured precision 1.0 after verify) —
    full-recall near-dup pairs at candidate-linear verify cost.
    The composed operator shares ONE shingle pass between the
    blocker and the verifier (results byte-identical; guide §2.4)."""
    d = _t(spark, sf, "documents")
    return dedup.near_dup_verified_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3,
        min_jaccard=0.5,
    )


@register("minhash_pair_recall", oracle=lambda: minhash_cte()
        + f"""
            , approx AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM buckets a JOIN buckets b USING (band_id, band_hash)
              WHERE a.doc_id < b.doc_id
            ),
            jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM jx x
              JOIN jx y ON y.gram = x.gram AND y.doc_id > x.doc_id
              GROUP BY 1, 2
            ),
            exact AS (
              SELECT id_a, id_b FROM inter
              WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
            ),
            {_PAIR_RECALL}
        """)
def _minhash_pair_recall(spark, sf):
    """The comparative row to dedup_pair_recall: the MinHash-LSH blocker
    (recall-oriented, 4 bands x 3 rows) against the same exact >=0.5
    ground truth — winnow trades recall for precision; this one the
    reverse. Together they turn the blocker choice into a measured
    trade."""
    d = _t(spark, sf, "documents")
    exact = dedup.jaccard_all_pairs(d, "text", "doc_id", n=3, threshold=0.5)
    approx = dedup.lsh_candidate_pairs(
        d, "text", "doc_id", num_hashes=12, bands=4, shingle=3
    )
    return dedup.pair_recall(exact, approx)


@register("simhash_near_pairs")
def _simhash_pairs(spark, sf):
    """SimHash near-dup pairs (xxhash64-based; no SQL oracle).

    max_hamming=3 (the standard near-dup bound): 4 pigeonhole bands of 16
    bits, so random docs almost never share a band — candidate volume stays
    ~linear in true near-pairs. A looser bound like 8 makes 9 bands of 7
    bits where this corpus bucket-collides 12% of ALL pairs (quadratic)."""
    d = _t(spark, sf, "documents")
    return dedup.simhash_near_pairs(d, "text", "doc_id", max_hamming=3)


@cache
def bit_terms():
    return " + ".join(
        f"(CASE WHEN 2 * len(list_filter(h, x -> ((x >> {i}) & 1) = 1)) > n "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(32)
    )


@cache
def simhash_fp_cte():
    return f"""
        WITH hs AS (
          SELECT doc_id,
                 list_transform(
                   list_distinct({_LTOKS}),
                   t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS h,
                 len(list_distinct({_LTOKS})) AS n
          FROM documents
        ),
        fp AS (SELECT doc_id, ({bit_terms()}) AS simhash FROM hs)
    """


@register("simhash32", oracle=lambda: simhash_fp_cte() + "SELECT doc_id, simhash FROM fp")
def _simhash32(spark, sf):
    """Oracle-portable 32-bit SimHash fingerprints (md5 token hashes)."""
    d = _t(spark, sf, "documents")
    return dedup.simhash32_md5(d, "text", "doc_id")


@register("simhash_near_pairs_md5", oracle=lambda: simhash_fp_cte()
        + """
            , bl AS (
              SELECT doc_id, simhash, band_id,
                     (simhash >> (band_id * 8)) & 255 AS band_val
              FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band_id)
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM bl a JOIN bl b USING (band_id, band_val)
            WHERE a.doc_id < b.doc_id
              AND bit_count(xor(a.simhash, b.simhash)) <= 3
        """)
def _simhash_pairs_md5(spark, sf):
    """Oracle-checked SimHash near-pairs: 32-bit md5 fingerprints, pigeonhole
    banding (4 bands × 8 bits for max_hamming=3) — the SQL-portable twin of
    the xxhash64 production variant, same banded-join plan."""
    d = _t(spark, sf, "documents")
    return dedup.simhash_near_pairs_md5(d, "text", "doc_id", max_hamming=3)


@register("dedup_method_agreement", oracle=lambda: minhash_cte()
        + f"""
            {_VERIFIED_CANDIDATES},
            tp AS (
              SELECT id_a, id_b FROM inter
              WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5
            ),
            ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            vp AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM ev a JOIN ev b ON a.vec_id < b.vec_id
              WHERE ROUND(list_dot_product(a.v, b.v)
                          / (sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.35
            ),
            cnts AS (
              SELECT (SELECT COUNT(*) FROM tp) AS nt,
                     (SELECT COUNT(*) FROM vp) AS nv,
                     (SELECT COUNT(*) FROM tp JOIN vp USING (id_a, id_b)) AS nb
            )
            SELECT CAST(nt AS BIGINT) AS n_text_pairs,
                   CAST(nv AS BIGINT) AS n_vec_pairs,
                   CAST(nb AS BIGINT) AS n_both,
                   CASE WHEN nt + nv - nb > 0
                        THEN ROUND(CAST(nb AS DOUBLE) / (nt + nv - nb), 6)
                   END AS method_jaccard
            FROM cnts
        """)
def _dedup_method_agreement(spark, sf):
    """Ensemble-dedup calibration scorecard: how much do TEXTUAL near-dup
    pairs (MinHash-LSH candidates verified at n-gram Jaccard >= 0.5) and
    SEMANTIC near-dup pairs (embedding cosine >= 0.35, shared id space)
    agree? One row (n_text_pairs, n_vec_pairs, n_both, method_jaccard) —
    the gap is exactly the paraphrase set lexical dedup misses. Both pair
    sets are already bounded near-dup outputs, so the full-outer overlap
    join is metadata-sized."""
    t = _near_dup_verified(spark, sf).select("id_a", "id_b").withColumn(
        "__t", F.lit(1)
    )
    v = _embedding_near_dup(spark, sf).select("id_a", "id_b").withColumn(
        "__v", F.lit(1)
    )
    j = t.join(v, ["id_a", "id_b"], "full_outer")
    nt = F.sum(F.coalesce(F.col("__t"), F.lit(0)))
    nv = F.sum(F.coalesce(F.col("__v"), F.lit(0)))
    nb = F.sum(
        F.when(F.col("__t").isNotNull() & F.col("__v").isNotNull(), 1).otherwise(0)
    )
    denom = nt + nv - nb
    return j.agg(
        nt.cast("long").alias("n_text_pairs"),
        nv.cast("long").alias("n_vec_pairs"),
        nb.cast("long").alias("n_both"),
        F.when(denom > 0, F.round(nb.cast("double") / denom, 6)).alias(
            "method_jaccard"
        ),
    )


@register("dedup_keep_best", oracle=lambda: f"""
            WITH scored AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                     ROUND(
                       {_QUALITY}, 4) AS quality
              FROM documents
            ), ranked AS (
              SELECT doc_id, quality,
                     row_number() OVER (PARTITION BY fp
                                        ORDER BY quality DESC, doc_id ASC) AS rnk,
                     COUNT(*) OVER (PARTITION BY fp) AS dup_count
              FROM scored
            )
            SELECT doc_id, quality, dup_count FROM ranked WHERE rnk = 1
        """)
def _dedup_keep_best(spark, sf):
    """Quality-aware dedup keeper: per normalized-text fingerprint group,
    keep the doc maximizing the heuristic quality score (ties → min id),
    with the group's dup_count — the curation-grade alternative to the
    min-id keeper. One map-side-combinable aggregate shuffle."""
    d = _t(spark, sf, "documents")
    scored = d.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    return dedup.keep_best(scored, "doc_id", "fp", "quality")


@register("incremental_dedup", oracle="""
            WITH fp AS (
              SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents
            ),
            keepers AS (
              SELECT MIN(doc_id) AS doc_id, fp FROM fp WHERE doc_id >= 400 GROUP BY fp
            )
            SELECT k.doc_id, k.fp FROM keepers k
            WHERE NOT EXISTS (SELECT 1 FROM fp c WHERE c.doc_id < 400 AND c.fp = k.fp)
        """)
def _incremental_dedup(spark, sf):
    """Daily-crawl ingestion dedup: the doc_id >= 400 slice arrives as the
    new batch and dedups against the older corpus without re-deduping it."""
    d = _t(spark, sf, "documents")
    return dedup.incremental_dedup(
        d.filter(F.col("doc_id") >= 400), d.filter(F.col("doc_id") < 400),
        "text", "doc_id",
    )


@register("span_dedup", oracle=r"""
            WITH toks AS (
              SELECT doc_id, str_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE trim(text) <> ''
            ),
            base AS (
              SELECT doc_id, t,
                     unnest(range(CAST(ceil(len(t) / 5.0) AS BIGINT))) AS i
              FROM toks
            ),
            spans AS (
              SELECT doc_id, CAST(i AS INT) AS span_idx,
                     array_to_string(t[i*5+1 : i*5+5], ' ') AS span_text
              FROM base
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY span_text
                                           ORDER BY doc_id, span_idx) AS rn
              FROM spans
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
                   coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END,
                                       ' ' ORDER BY span_idx), '') AS kept_text
            FROM ranked GROUP BY doc_id
        """)
def _span_dedup(spark, sf):
    """C4-style duplicate-span removal: chunk each doc into 5-token spans,
    keep the FIRST corpus-wide occurrence of every span, reassemble docs
    from their surviving spans. Two shuffles (span key, then doc id).
    fan_out first: the r8 slope audit measured the sf1 single-file scan
    serializing the tokenize+explode map side onto 2 of 32 cores —
    5.5x wall at 10x data, 1.3x after (BASELINE.md §11)."""
    from pgferry_spark.operators.dedup import span_dedup

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return span_dedup(d, "text", "doc_id", span=5)


# same recursive closure as dedup_clusters, then the split bucket
# hashes COALESCE(cluster_id, doc_id) — singletons fall back to
# the plain dataset_split assignment
@register("cluster_safe_split", oracle=lambda: winnow_cte.replace("WITH h AS", "WITH RECURSIVE h AS")
        + """
            , ex AS (SELECT doc_id, unnest(fps) AS fp FROM wf),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ex a JOIN ex b USING (fp)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING COUNT(*) >= 50
            ),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
            cl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                   FROM reach GROUP BY src)
            SELECT d.doc_id,
                   CASE WHEN ('0x' || substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                                      AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
                             THEN 'train'
                        WHEN ('0x' || substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
                                                      AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
        """)
def _cluster_safe_split(spark, sf):
    """Leakage-safe split: hash bucket computed on the near-dup CLUSTER id
    (winnow-pair connected components), so near-duplicate documents can
    never straddle train/test; singletons fall back to their own id —
    a drop-in upgrade of dataset_split."""
    from pgferry_spark.operators.curate import cluster_safe_split

    d = _t(spark, sf, "documents")
    clusters = dedup.dedup_clusters(_winnow_shared_pairs(spark, sf))
    return cluster_safe_split(d, clusters, "doc_id").select("doc_id", "split")


# exact 3-gram Jaccard >= 0.5 over the (bench_id, corpus_id) candidates
# in ``cand``
_CROSS_VERIFIED = """jx AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS gram FROM gr),
            inter AS (
              SELECT c.bench_id, c.corpus_id, COUNT(*) AS c,
                     any_value(x.n) AS n_a, any_value(y.n) AS n_b
              FROM cand c
              JOIN jx x ON x.doc_id = c.bench_id
              JOIN jx y ON y.doc_id = c.corpus_id AND y.gram = x.gram
              GROUP BY c.bench_id, c.corpus_id
            )
            SELECT bench_id, corpus_id,
                   ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) AS jaccard
            FROM inter
            WHERE ROUND(CAST(c AS DOUBLE) / (n_a + n_b - c), 4) >= 0.5"""


@register("cross_corpus_near_dup", oracle=lambda: minhash_cte()
        + f"""
            , cand AS (
              SELECT DISTINCT l.doc_id AS bench_id, r.doc_id AS corpus_id
              FROM buckets l JOIN buckets r USING (band_id, band_hash)
              WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            ),
            {_CROSS_VERIFIED}
        """)
def _cross_corpus_near_dup(spark, sf):
    """Two-table decontamination: every 10th document plays the benchmark
    set, the rest the training corpus; MinHash-LSH candidates across the
    tables, exact 3-gram Jaccard ≥ 0.5 verify. The near-dup upgrade of
    incremental_dedup's exact-fingerprint anti-join."""
    from pgferry_spark.operators.dedup import cross_corpus_near_dup

    d = _t(spark, sf, "documents")
    left = d.filter(F.col("doc_id") % 10 == 0)
    right = d.filter(F.col("doc_id") % 10 != 0)
    return cross_corpus_near_dup(
        left, right, "text", "doc_id", min_jaccard=0.5
    ).withColumnRenamed("left_id", "bench_id").withColumnRenamed(
        "right_id", "corpus_id"
    )


@register("cross_corpus_near_dup_capped", oracle=lambda: minhash_cte()
        + f"""
            , kept AS (
              SELECT band_id, band_hash FROM buckets
              WHERE doc_id % 10 <> 0
              GROUP BY 1, 2 HAVING COUNT(*) <= 3
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS bench_id, r.doc_id AS corpus_id
              FROM buckets l
              JOIN buckets r USING (band_id, band_hash)
              JOIN kept k ON r.band_id = k.band_id AND r.band_hash = k.band_hash
              WHERE l.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            ),
            {_CROSS_VERIFIED}
        """)
def _cross_corpus_near_dup_capped(spark, sf):
    """Production POSTURE of _cross_corpus_near_dup: corpus-side
    hot-bucket cap ON (max_bucket=3 < max observed corpus bucket at the
    test SFs, so dropped buckets exist at the gate). The oracle replays
    the drop as HAVING COUNT(*) <= 3 over the corpus bucket counts."""
    from pgferry_spark.operators.dedup import cross_corpus_near_dup

    d = _t(spark, sf, "documents")
    left = d.filter(F.col("doc_id") % 10 == 0)
    right = d.filter(F.col("doc_id") % 10 != 0)
    return cross_corpus_near_dup(
        left, right, "text", "doc_id", min_jaccard=0.5, max_bucket=3
    ).withColumnRenamed("left_id", "bench_id").withColumnRenamed(
        "right_id", "corpus_id"
    )


@register("dup_rate_by_source", oracle=r"""
            WITH fp AS (
              SELECT source,
                     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
              FROM documents
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS docs,
                   CAST(count(DISTINCT f) AS BIGINT) AS distinct_fps,
                   ROUND(1.0 - count(DISTINCT f) / CAST(count(*) AS DOUBLE), 6)
                     AS dup_rate
            FROM fp GROUP BY source
        """)
def _dup_rate_by_source(spark, sf):
    """Per-source duplication-rate report (docs, distinct fingerprints,
    dup rate) — the corpus-health table that decides which sources need
    aggressive dedup before mixing. One aggregation shuffle."""
    from pgferry_spark.operators.dedup import dup_rate_by_source

    d = _t(spark, sf, "documents")
    return dup_rate_by_source(d, "text", "doc_id", "source")


# every stride-1 8-token window by md5, and the repeats of a window
# after its first occurrence corpus-wide (keep-first)
_DUP_WINDOWS = r"""WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents
            ),
            occ AS (
              SELECT doc_id, CAST(i AS INT) AS pos,
                     md5(array_to_string(t[i+1 : i+8], ' ')) AS wh
              FROM toks, unnest(range(len(t) - 7)) AS u(i)
              WHERE len(t) >= 8
            ),
            ranked AS (
              SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY wh) AS cnt
              FROM occ
            ),
            dup AS (SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn > 1)"""


@register("exact_substring_spans", oracle=lambda: fr"""
            {_DUP_WINDOWS},
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, pos,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flagged)
            SELECT doc_id,
                   CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) + 8 AS INT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM grp GROUP BY doc_id, island
        """)
def _exact_substring_spans(spark, sf):
    """Exact-substring duplicate spans (Lee et al. 2022 ExactSubstr,
    suffix-array-free): stride-1 8-token windows, keep-first corpus-wide
    per repeated window, merge each doc's surviving duplicate windows
    into maximal [start, end) token spans. The shuffle carries md5 window
    keys, never text; the keeper is a count+min aggregate (no hot-window
    occurrence lists). fan_out first (the span_dedup single-file
    parallelism-floor lesson, r8 slope audit)."""
    from pgferry_spark.operators.dedup import exact_substring_spans

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return exact_substring_spans(d, "text", "doc_id", w=8)


@register("exact_substring_spans_chars", oracle=lambda: fr"""
            {_DUP_WINDOWS},
            flagged AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, pos,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flagged),
            spans AS (
              SELECT doc_id,
                     CAST(min(pos) AS INT) AS span_start,
                     CAST(max(pos) + 8 AS INT) AS span_end,
                     CAST(count(*) AS BIGINT) AS n_windows
              FROM grp GROUP BY doc_id, island
            )
            -- Lee et al. 50-char floor on the reconstructed span text
            -- (single-space joined tokens, same normalization as the
            -- window hashing)
            SELECT s.doc_id, s.span_start, s.span_end, s.n_windows,
                   CAST(length(array_to_string(
                        t[s.span_start + 1 : s.span_end], ' ')) AS INT)
                     AS span_chars
            FROM spans s JOIN toks USING (doc_id)
            WHERE length(array_to_string(
                    t[s.span_start + 1 : s.span_end], ' ')) >= 50
        """)
def _exact_substring_spans_chars(spark, sf):
    """ExactSubstr spans with Lee et al.'s CHARACTER-length floor
    (arXiv:2107.06499 uses a 50-char suffix-array threshold, not a token
    count): same windowed span merge, then each span's reconstructed
    text (single-space joined tokens) must reach 50 chars. The extra
    cost is one equi-join of the duplicate-bounded span table back to a
    (doc_id, tokens) projection — AQE broadcast in practice."""
    from pgferry_spark.operators.dedup import exact_substring_spans

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return exact_substring_spans(
        d, "text", "doc_id", w=8, min_match_chars=50
    )


@register("exact_substring_spans_exact", oracle=r"""
            WITH toks AS (
              SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                             ELSE regexp_split_to_array(trim(text), '\s+') END AS t
              FROM documents
            ),
            docs AS (
              SELECT doc_id, t FROM toks
              WHERE len(t) > 0 AND length(array_to_string(t, ' ')) >= 50
            ),
            ex AS (
              SELECT doc_id, CAST(i AS INT) AS pos, length(t[i+1]) AS tl,
                     substr(array_to_string(t[i+1 : i+50], ' '), 1, 50) AS k
              FROM docs, unnest(range(len(t))) AS u(i)
            ),
            offs AS (
              SELECT doc_id, pos, k,
                     CAST(coalesce(sum(tl + 1) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS INT) AS o
              FROM ex
            ),
            occ AS (
              SELECT doc_id, pos, o, md5(k) AS wh
              FROM offs WHERE length(k) >= 50
            ),
            ranked AS (
              SELECT doc_id, pos, o,
                     row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn,
                     count(*) OVER (PARTITION BY wh) AS cnt
              FROM occ
            ),
            dup AS (SELECT doc_id, o FROM ranked WHERE cnt >= 2 AND rn > 1),
            flagged AS (
              SELECT doc_id, o,
                     CASE WHEN prev_end IS NULL OR o > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, o,
                           max(o + 50) OVER (PARTITION BY doc_id ORDER BY o
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, o,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY o) AS island
                    FROM flagged)
            SELECT doc_id,
                   CAST(min(o) AS INT) AS span_start,
                   CAST(max(o) + 50 AS INT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_suffixes
            FROM grp GROUP BY doc_id, island
        """)
def _exact_substring_spans_exact(spark, sf):
    """EXACT ExactSubstr at the paper's 50-CHAR threshold: fixed-depth suffix-prefix grouping — every token-boundary
    suffix keyed by its first 50 chars; identical keys are exactly the
    suffix-array buckets of Lee et al. 2022, so every >= 50-char corpus
    repeat starting at a token boundary is found regardless of how many
    tokens it spans (the w-token window needs w whole aligned tokens;
    the staggered band reads recall 0.84 on the misaligned scorecard,
    this reads 1.0). Keep-first min (id, pos) per bucket; char-space
    island merge; spans are [start, end) CHARACTER offsets into the
    normalized single-space text. Shuffle carries (id, pos, off, md5),
    never suffix text; keys built from <= 50-token slices map-side."""
    from pgferry_spark.operators.dedup import exact_substring_spans_exact

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return exact_substring_spans_exact(d, "text", "doc_id", depth=50)


@register("exact_substring_scrub", oracle=lambda: fr"""
            {_DUP_WINDOWS},
            flagged_w AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS newf
              FROM (SELECT doc_id, pos,
                           max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS prev_end
                    FROM dup) s
            ),
            grp AS (SELECT doc_id, pos,
                           sum(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM flagged_w),
            spans AS (
              SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end
              FROM grp GROUP BY doc_id, island
            ),
            tok_pos AS (
              SELECT doc_id, CAST(i AS INT) AS p, t[i+1] AS tok
              FROM toks, unnest(range(len(t))) AS u(i)
            ),
            flag AS (
              SELECT DISTINCT tp.doc_id, tp.p
              FROM tok_pos tp JOIN spans s
                ON s.doc_id = tp.doc_id
               AND tp.p >= s.span_start AND tp.p < s.span_end
            ),
            kept AS (
              SELECT tp.doc_id, tp.p, tp.tok
              FROM tok_pos tp LEFT JOIN flag
                ON tp.doc_id = flag.doc_id AND tp.p = flag.p
              WHERE flag.p IS NULL
            ),
            rebuilt AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
              FROM kept GROUP BY doc_id
            ),
            rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_removed
                    FROM flag GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(rem.n_tokens_removed, 0) AS n_tokens_removed
            FROM documents d
            LEFT JOIN rebuilt r USING (doc_id)
            LEFT JOIN rem USING (doc_id)
        """)
def _exact_substring_scrub(spark, sf):
    """The removal half of Lee et al. ExactSubstr: every document
    rebuilt with its later-occurrence duplicated windows cut out (first
    corpus-wide copy survives). The spans table is tiny; the only
    corpus-sized work is one token posexplode and a per-document
    ordered re-aggregation — no suffix array, no all-pairs. fan_out
    first (single-file parallelism floor, r8 slope audit)."""
    from pgferry_spark.operators.dedup import remove_exact_substrings

    d = fan_out(_t(spark, sf, "documents"), "doc_id")
    return remove_exact_substrings(d, "text", "doc_id", w=8)
