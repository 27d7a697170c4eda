"""Operator semantics tests: orphan cleanup (MATCH SIMPLE parity with
reference clean_orphans_test.go:8-82), dedup family, similarity search."""

import random

from pyspark.sql import functions as F

from pgferry_spark.operators import dedup, orphans, similarity
from pgferry_spark.plans.validation import validate_row_counts


def parent_child(spark):
    parent = spark.createDataFrame([(1,), (2,)], "id: long")
    child = spark.createDataFrame(
        [
            (10, 1, 1),      # matched
            (11, 2, None),   # partial NULL -> never an orphan (MATCH SIMPLE)
            (12, None, None),# all NULL -> never an orphan
            (13, 99, 1),     # orphan (99 not in parent)
        ],
        "cid: long, fk_a: long, fk_b: long",
    )
    parent2 = spark.createDataFrame([(1, 1), (2, 2)], "pa: long, pb: long")
    return parent, child, parent2


class TestOrphans:
    def test_find_orphans_match_simple(self, spark):
        parent, child, parent2 = parent_child(spark)
        got = orphans.find_orphans(child, parent2, ["fk_a", "fk_b"], ["pa", "pb"])
        assert [r["cid"] for r in got.collect()] == [13]

    def test_delete_rule_keeps_null_rows(self, spark):
        parent, child, parent2 = parent_child(spark)
        got = orphans.clean_orphans_delete(child, parent2, ["fk_a", "fk_b"], ["pa", "pb"])
        assert sorted(r["cid"] for r in got.collect()) == [10, 11, 12]

    def test_set_null_rule(self, spark):
        parent, child, _ = parent_child(spark)
        got = orphans.clean_orphans_set_null(child, parent, ["fk_a"], ["id"])
        rows = {r["cid"]: r["fk_a"] for r in got.collect()}
        assert rows[10] == 1
        assert rows[11] == 2       # matched on fk_a
        assert rows[12] is None    # was already NULL
        assert rows[13] is None    # orphan -> nulled
        assert got.count() == 4    # rows kept, not deleted

    def test_set_null_no_forced_broadcast(self, spark):
        """Scale posture (VERDICT r6 #2): the SET NULL path must delegate
        join strategy to AQE/config, never hard-code F.broadcast — a forced
        broadcast of a same-magnitude parent's key set is an OOM at 100x.
        With the broadcast threshold disabled (simulating an over-threshold
        parent), the executed plan must contain no BroadcastExchange."""
        parent, child, _ = parent_child(spark)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got = orphans.clean_orphans_set_null(child, parent, ["fk_a"], ["id"])
            got.count()
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan, plan[:400]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    def test_delete_rule_equals_semi_join_plus_null_rows(self, spark):
        """Seeded property: the one-join DELETE rule keeps exactly the
        multiset ``semi-join ∪ NULL-FK rows`` (the two-scan spelling it
        replaced), on a composite FK with NULLs on both sides, duplicate
        child rows and duplicate parent keys; a pre-built key set gives the
        same rows."""
        import random
        from collections import Counter

        fk, ref = ["fk_a", "fk_b"], ["pa", "pb"]

        def val(rng):
            return None if rng.random() < 0.2 else rng.randint(0, 3)

        for seed in range(8):
            rng = random.Random(seed)
            parent_rows = [(val(rng), val(rng)) for _ in range(rng.randint(0, 12))]
            parent_rows += parent_rows[: rng.randint(0, len(parent_rows))]
            child_rows = [(rng.randint(0, 5), val(rng), val(rng)) for _ in range(30)]
            child_rows += child_rows[: rng.randint(0, 10)]
            parent = spark.createDataFrame(parent_rows, "pa: long, pb: long")
            child = spark.createDataFrame(child_rows, "cid: long, fk_a: long, fk_b: long")

            non_null = F.col("fk_a").isNotNull() & F.col("fk_b").isNotNull()
            keys = orphans.parent_keys(parent, ref)
            matched = child.filter(non_null).join(
                keys,
                (child["fk_a"] == keys["__ref_0"]) & (child["fk_b"] == keys["__ref_1"]),
                "left_semi",
            )
            want = Counter(map(tuple, matched.unionByName(child.filter(~non_null)).collect()))
            got = orphans.clean_orphans_delete(child, parent, fk, ref)
            assert Counter(map(tuple, got.collect())) == want, seed
            prebuilt = orphans.clean_orphans_delete(child, None, fk, ref, keys=keys)
            assert Counter(map(tuple, prebuilt.collect())) == want, seed

    def test_delete_rule_scans_child_once(self, spark, tmp_path):
        """The DELETE rule is one join: its optimized plan reads the child
        once (the semi-join ∪ NULL-rows spelling read it twice)."""
        parent, child, parent2 = parent_child(spark)
        child.write.parquet(str(tmp_path / "child"))
        child = spark.read.parquet(str(tmp_path / "child"))
        got = orphans.clean_orphans_delete(child, parent2, ["fk_a", "fk_b"], ["pa", "pb"])
        plan = got._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("] parquet") == 1, plan
        assert sorted(r["cid"] for r in got.collect()) == [10, 11, 12]


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),   # near dup
    (3, "completely different content entirely unrelated here now"),
    (4, "  The  QUICK brown fox jumps over the lazy dog"),  # ws/case variant
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id: long, text: string")


class TestDedup:
    def test_exact(self, spark):
        d = docs_df(spark)
        groups = dedup.exact_dup_groups(d, "text", "doc_id").collect()
        assert sorted(r["keeper_id"] for r in groups) == [0, 2, 3, 4]
        assert {r["keeper_id"]: r["dup_count"] for r in groups}[0] == 2

    def test_fingerprint_catches_ws_case(self, spark):
        d = docs_df(spark)
        kept = dedup.dedup_by_fingerprint(d, "text", "doc_id")
        assert sorted(r["doc_id"] for r in kept.collect()) == [0, 2, 3]

    def test_minhash_identical_docs_share_all_buckets(self, spark):
        d = docs_df(spark)
        b = dedup.lsh_bucket_table(d, "text", "doc_id", num_hashes=8, bands=4)
        rows = b.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], set()).add((r["band_id"], r["band_hash"]))
        assert by_doc[0] == by_doc[1] == by_doc[4]  # same token sets
        assert by_doc[0] != by_doc[3]

    def test_lsh_candidate_pairs(self, spark):
        d = docs_df(spark)
        pairs = {(r["id_a"], r["id_b"]) for r in
                 dedup.lsh_candidate_pairs(d, "text", "doc_id", 8, 4).collect()}
        assert (0, 1) in pairs and (0, 4) in pairs
        assert all(a < b for a, b in pairs)

    def test_lsh_hash_family_agreement(self, spark):
        """r14 retirement pin (VERDICT r13 Next #3): the xxhash64 fast
        path is no longer a registry entry, so its agreement with the
        oracle-green md5 family is pinned here instead. Identical
        shingle sets minhash identically under ANY hash family, so both
        families MUST flag the same exact-duplicate pairs and give both
        copies identical per-doc bucket sets; and the bucket-table SHAPE
        (bands × docs with >= shingle tokens) is family-invariant."""
        d = docs_df(spark)
        by_fam = {}
        for fam in ("md5", "xxhash64"):
            b = dedup.lsh_bucket_table(
                d, "text", "doc_id", num_hashes=8, bands=4, hash_fn=fam
            )
            by_doc = {}
            for r in b.collect():
                by_doc.setdefault(r["doc_id"], set()).add(
                    (r["band_id"], r["band_hash"])
                )
            pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(
                d, "text", "doc_id", 8, 4, hash_fn=fam).collect()}
            by_fam[fam] = (by_doc, pairs)
        md5_docs, md5_pairs = by_fam["md5"]
        xx_docs, xx_pairs = by_fam["xxhash64"]
        # same docs bucketed, 4 bands each, under both families
        assert set(md5_docs) == set(xx_docs)
        assert all(len(v) == 4 for v in md5_docs.values())
        assert all(len(v) == 4 for v in xx_docs.values())
        # exact duplicates (docs 0/1/4 share token sets) collide in every
        # band under both families -> both flag the full dup clique
        for pairs in (md5_pairs, xx_pairs):
            assert {(0, 1), (0, 4), (1, 4)} <= pairs
        for docs in (md5_docs, xx_docs):
            assert docs[0] == docs[1] == docs[4]
            assert docs[0] != docs[3]

    def test_simhash_identical_zero_distance(self, spark):
        d = docs_df(spark)
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(d, "text", "doc_id").collect()}
        assert sh[0] == sh[1] == sh[4]
        assert sh[0] != sh[3]
        near = dedup.simhash_near_pairs(d, "text", "doc_id", max_hamming=3)
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in near.collect()}
        assert got[(0, 1)] == 0

    def test_jaccard(self, spark):
        d = docs_df(spark)
        pairs = spark.createDataFrame([(0, 1), (0, 3)], "id_a: long, id_b: long")
        out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               dedup.jaccard_pairs(d, pairs, "text", "doc_id", n=3).collect()}
        assert out[(0, 1)] == 1.0
        assert out[(0, 3)] == 0.0  # zero 3-gram intersection evaluates to 0


class TestSimilarity:
    def embeddings(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def test_cosine_topk_exact(self, spark):
        e = self.embeddings(spark)
        got = similarity.cosine_topk(e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=3).collect()
        assert [r["vec_id"] for r in got] == [0, 1, 2]
        assert got[0]["cosine_sim"] == 1.0

    def test_pairwise_topk_excludes_self(self, spark):
        e = self.embeddings(spark)
        probe = e.filter(F.col("vec_id") == 0)
        got = similarity.pairwise_cosine_topk(e, "embedding", "vec_id", probe, k=2).collect()
        assert [r["base_id"] for r in got] == [1, 2]
        assert all(r["probe_id"] == 0 for r in got)

    def test_lsh_bucket_groups_similar(self, spark):
        e = self.embeddings(spark)
        buckets = {r["vec_id"]: r["bucket"] for r in
                   similarity.lsh_bucket_table(e, "embedding", "vec_id", n_planes=6).collect()}
        assert buckets[0] == buckets[1]  # nearly-parallel vectors collide
        assert buckets[0] != buckets[3]  # antipodal vectors split

    def test_lsh_topk_finds_query_bucket(self, spark):
        e = self.embeddings(spark)
        got = similarity.lsh_topk(e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=3).collect()
        ids = [r["vec_id"] for r in got]
        assert 0 in ids and 3 not in ids

    def test_multiprobe_recall_superset(self, spark):
        # probing more buckets can only add candidates, so multi-probe
        # results must contain the single-probe results
        e = self.embeddings(spark)
        q = [1.0, 0.0, 0.0]
        single = {r["vec_id"] for r in
                  similarity.lsh_topk(e, "embedding", "vec_id", q, k=4).collect()}
        multi = {r["vec_id"] for r in
                 similarity.lsh_topk_multiprobe(e, "embedding", "vec_id", q, k=4,
                                                n_probes=4).collect()}
        assert single <= multi

    def test_ivf_kmeans_assignment(self, spark):
        e = self.embeddings(spark)
        got = similarity.ivf_assign_kmeans(e, "embedding", "vec_id", n_cells=2).collect()
        assert len(got) == 4                      # every vector assigned once
        cells = {r["vec_id"]: r["cell_id"] for r in got}
        assert set(cells.values()) <= {0, 1}
        assert cells[0] == cells[1]               # near-parallel vectors share a cell
        assert all(r["dist"] >= 0 for r in got)


class TestMMRSelect:
    def embeddings(self, spark):
        # 0 = query direction; 1 = near-duplicate of 0; 2 = orthogonal;
        # 3 = opposite; 4 = diagonal between 0 and 2
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.99, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
            (4, [0.7, 0.7, 0.0]),
        ]
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def test_rank1_is_relevance_argmax(self, spark):
        e = self.embeddings(spark)
        got = similarity.mmr_select(
            e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=3, lam=0.5
        ).collect()
        assert [r.mmr_rank for r in got] == [1, 2, 3]
        assert got[0].vec_id == 0
        assert got[0].mmr_score == 1.0  # rank-1 score is its relevance

    def test_near_duplicate_deferred_below_diverse_picks(self, spark):
        # query [1, .2, 0]: rank 1 is vec 1 (rel .9825); vec 0 is pure-
        # relevance #2 (rel .9806) but cos(0,1)=.9999 makes its MMR score
        # negative, so the orthogonal vec 2 (score .093) and diagonal
        # vec 4 (.05895) both out-rank it — hand-computed greedy order
        e = self.embeddings(spark)
        got = [
            r.vec_id
            for r in similarity.mmr_select(
                e, "embedding", "vec_id", [1.0, 0.2, 0.0], k=3, lam=0.5
            ).collect()
        ]
        assert got == [1, 2, 4]  # near-dup 0 selected not at all

    def test_lambda_one_is_pure_relevance(self, spark):
        e = self.embeddings(spark)
        mmr = [
            r.vec_id
            for r in similarity.mmr_select(
                e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=4, lam=1.0
            ).collect()
        ]
        rel = [
            r.vec_id
            for r in similarity.cosine_topk(
                e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=4
            ).collect()
        ]
        assert mmr == rel

    def test_k_below_one_raises(self, spark):
        import pytest

        e = self.embeddings(spark)
        with pytest.raises(ValueError):
            similarity.mmr_select(e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=0)

    def test_k_larger_than_candidates_returns_all(self, spark):
        e = self.embeddings(spark)
        got = similarity.mmr_select(
            e, "embedding", "vec_id", [1.0, 0.0, 0.0], k=50, n_candidates=3
        ).collect()
        assert len(got) == 3
        assert [r.mmr_rank for r in got] == [1, 2, 3]


class TestEmbeddingNearDup:
    def embeddings(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # near-dup of 0 (cos ≈ 0.9939)
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [-1.0, 0.0, 0.0]),  # antipodal
            (4, [1.0, 0.05, 0.0]),  # near-dup of 0 and 1
        ]
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def test_exact_pairs(self, spark):
        e = self.embeddings(spark)
        got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in
               dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", 0.95).collect()}
        assert set(got) == {(0, 1), (0, 4), (1, 4)}
        assert got[(0, 1)] == 0.9939
        assert all(v >= 0.95 for v in got.values())

    def test_lsh_pairs_subset_of_exact(self, spark):
        e = self.embeddings(spark)
        exact = {(r["id_a"], r["id_b"]) for r in
                 dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", 0.95).collect()}
        lsh = {(r["id_a"], r["id_b"]) for r in
               dedup.embedding_near_dup_pairs_lsh(
                   e, "embedding", "vec_id", 0.95, n_planes=8, bands=8).collect()}
        assert lsh <= exact        # blocking never invents pairs
        assert (0, 1) in lsh       # near-parallel vectors agree on every 1-bit band

    def test_multi_block_exact_matches_single_block(self, spark):
        # block_size=2 over 5 vectors forces cross-block pairs through the
        # off-diagonal canonicalization path; results must be identical to
        # the single-block run regardless of hash-block placement
        e = self.embeddings(spark)
        one = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in
               dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", 0.95,
                                              block_size=1024).collect()}
        many = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in
                dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", 0.95,
                                               block_size=2).collect()}
        assert one == many
        assert all(a < b for a, b in many)

    def test_input_without_plan_stats_sizes_blocks_without_a_job(
        self, spark, jobs_in_group,
    ):
        # an RDD-backed frame has no plan statistics: instead of a job
        # counting it, each partition is cut into blocks of block_size
        # rows, so no block outgrows block_size whatever the input's size
        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(90)]
        rows += [(90 + i, [x + 0.001 for x in rows[i][1]]) for i in range(10)]
        e = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        no_stats = spark.createDataFrame(e.rdd.repartition(3), e.schema)
        assert dedup._estimate_rows(no_stats) is None
        # a projection scales the unknown size down; still unknown
        assert dedup._estimate_rows(no_stats.select("vec_id")) is None
        before = jobs_in_group(None)
        blocks, nblocks = dedup._vector_blocks(no_stats, "embedding", "vec_id", 16)
        pairs = dedup.embedding_near_dup_pairs(
            no_stats, "embedding", "vec_id", 0.99, block_size=16,
        )
        assert jobs_in_group(None) == before
        assert nblocks is None
        sizes = [r[0] for r in blocks.select(F.size("rows")).collect()]
        assert sum(sizes) == 100 and max(sizes) <= 16
        got = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in pairs.collect()}
        want = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in
                dedup.embedding_near_dup_pairs(e, "embedding", "vec_id", 0.99).collect()}
        assert got == want
        assert {(i, 90 + i) for i in range(10)} <= set(got)

    def test_dedup_keeps_smallest_id(self, spark):
        e = self.embeddings(spark)
        kept = sorted(r["vec_id"] for r in
                      dedup.embedding_dedup(e, "embedding", "vec_id", 0.95).collect())
        assert kept == [0, 2, 3]   # 1 and 4 fold into 0


class TestKeepBest:
    SCHEMA = "doc_id long, fp string, quality double"

    def test_max_score_wins_with_dup_count(self, spark):
        from pgferry_spark.operators.dedup import keep_best

        rows = [
            (1, "A", 0.3), (2, "A", 0.9), (3, "A", 0.5),
            (4, "B", 0.7),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        got = {r.doc_id: (r.quality, r.dup_count)
               for r in keep_best(df, "doc_id", "fp", "quality").collect()}
        assert got == {2: (0.9, 3), 4: (0.7, 1)}

    def test_score_tie_breaks_to_min_id(self, spark):
        from pgferry_spark.operators.dedup import keep_best

        df = spark.createDataFrame(
            [(7, "A", 0.5), (3, "A", 0.5), (9, "A", 0.1)], self.SCHEMA
        )
        got = keep_best(df, "doc_id", "fp", "quality").collect()
        assert [(r.doc_id, r.dup_count) for r in got] == [(3, 3)]

    def test_null_score_loses_to_any_score(self, spark):
        from pgferry_spark.operators.dedup import keep_best

        df = spark.createDataFrame(
            [(1, "A", None), (2, "A", 0.01), (5, "B", None), (6, "B", None)],
            self.SCHEMA,
        )
        got = {r.doc_id: r.quality
               for r in keep_best(df, "doc_id", "fp", "quality").collect()}
        # group A: the scored row wins even though the NULL row has the
        # smaller id; group B: all-NULL falls back to min id, NULL surfaced
        assert got == {2: 0.01, 5: None}


def test_kmeans_deterministic_partition_invariant(spark):
    """The whole point: decimal-exact mean reductions make the trained
    assignment independent of partitioning — MLlib's float means are
    not. Same data through 1 vs 7 partitions must assign identically."""
    import random

    from pgferry_spark.operators.similarity import kmeans_deterministic

    rng = random.Random(20260815)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a1 = {r.vec_id: r.cell_id for r in kmeans_deterministic(
        df.repartition(1), "embedding", "vec_id", n_cells=4, n_iters=3
    ).collect()}
    a7 = {r.vec_id: r.cell_id for r in kmeans_deterministic(
        df.repartition(7), "embedding", "vec_id", n_cells=4, n_iters=3
    ).collect()}
    assert a1 == a7
    assert set(a1) == set(range(200))
    assert set(a1.values()) <= set(range(4))


def test_kmeans_deterministic_empty_cluster_keeps_centroid(spark):
    """Duplicate init vectors force one cluster empty (ties break to the
    lower cell); the empty cell keeps its centroid and the loop is
    stable — no crash, no NaN centroids."""
    from pgferry_spark.operators.similarity import kmeans_deterministic

    rows = [
        (0, [0.0, 0.0]), (1, [0.0, 0.0]),  # identical inits -> cell 1 empty
        (2, [10.0, 10.0]), (3, [10.1, 10.1]), (4, [0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cell_id for r in kmeans_deterministic(
        df, "embedding", "vec_id", n_cells=2, n_iters=2
    ).collect()}
    # the kept [0,0] centroid re-acquires the origin points once the
    # other centroid drifts toward the far pair — correct Lloyd dynamics
    assert got[0] == got[1] == got[4]
    assert got[2] == got[3]
    assert got[0] != got[2]  # the two natural clusters separate


def test_keep_best_randomized_invariants(spark):
    """One seeded random batch vs a local reference: one row per distinct
    key, picked id/score are the group argmax (ties to min id), and
    dup_counts sum back to the input row count."""
    import random

    from pgferry_spark.operators.dedup import keep_best

    rng = random.Random(20260815)
    rows = [
        (i, f"k{rng.randint(0, 30)}", round(rng.uniform(0, 1), 3))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, fp string, quality double")
    got = {r.doc_id: (r.quality, r.dup_count)
           for r in keep_best(df, "doc_id", "fp", "quality").collect()}

    groups = {}
    for i, k, q in rows:
        groups.setdefault(k, []).append((i, q))
    expect = {}
    for k, members in groups.items():
        best = max(members, key=lambda t: (t[1], -t[0]))
        expect[best[0]] = (best[1], len(members))
    assert got == expect
    assert sum(c for _, c in got.values()) == len(rows)


def test_mmr_randomized_against_local_reference(spark):
    """Seeded random vectors: the distributed greedy must equal a
    from-scratch local MMR (same rounding discipline) exactly."""
    import random

    from pgferry_spark.operators.similarity import _round_half_up, mmr_select

    rng = random.Random(20260815)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    query = [rng.uniform(-1, 1) for _ in range(8)]
    k, lam, n_cand = 6, 0.5, 15

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def local_mmr():
        qn = dot(query, query) ** 0.5
        scored = sorted(
            (
                (_round_half_up(dot(v, query) / (dot(v, v) ** 0.5 * qn), 4), i, v)
                for i, v in vecs
            ),
            key=lambda t: (-t[0], t[1]),
        )[:n_cand]
        norms = {i: dot(v, v) ** 0.5 for _, i, v in scored}
        sel = [scored[0]]
        out = [(scored[0][1], 1, _round_half_up(scored[0][0], 6))]
        rest = scored[1:]
        while rest and len(out) < k:
            best = None
            for rel, i, v in rest:
                ms = max(
                    _round_half_up(dot(v, sv) / (norms[i] * norms[si]), 4)
                    for _, si, sv in sel
                )
                sc = _round_half_up(lam * rel - (1 - lam) * ms, 6)
                if best is None or (sc, -i) > (best[0], -best[1]):
                    best = (sc, i, v, rel)
            sel.append((best[3], best[1], best[2]))
            out.append((best[1], len(out) + 1, best[0]))
            rest = [r for r in rest if r[1] != best[1]]
        return out

    df = spark.createDataFrame(
        [(i, v) for i, v in vecs], "vec_id long, embedding array<double>"
    )
    got = [
        (r.vec_id, r.mmr_rank, r.mmr_score)
        for r in mmr_select(
            df, "embedding", "vec_id", query, k=k, lam=lam, n_candidates=n_cand
        ).collect()
    ]
    assert got == local_mmr()


def test_validation_runner():
    src = {"a": 10, "b": 5}
    tgt = {"a": 10, "b": 4}
    res = validate_row_counts(["a", "b"], lambda t: src[t], lambda t: tgt[t])
    assert [r.table for r in res] == ["a", "b"]
    assert res[0].ok and not res[1].ok


class TestSpanDedup:
    def test_keep_first_occurrence_and_reassembly(self, spark):
        from pgferry_spark.operators.dedup import span_dedup

        rows = [
            (1, "a b c d e f g h i j"),          # spans: "a b c d e", "f g h i j"
            (2, "a b c d e x y z"),               # first span duplicates doc 1
            (3, "f g h i j"),                     # whole doc is a dup span
        ]
        df = spark.createDataFrame(rows, "id: long, text: string")
        got = {r["id"]: r for r in span_dedup(df, "text", "id", span=5).collect()}
        assert got[1]["kept_text"] == "a b c d e f g h i j"
        assert (got[1]["n_spans"], got[1]["kept_spans"]) == (2, 2)
        assert got[2]["kept_text"] == "x y z"      # tail span (short) survives
        assert (got[2]["n_spans"], got[2]["kept_spans"]) == (2, 1)
        assert got[3]["kept_text"] == ""           # fully deduplicated
        assert (got[3]["n_spans"], got[3]["kept_spans"]) == (1, 0)

    def test_grid_recall_vs_stride1_detector(self, spark):
        """Containment scorecard (VERDICT r8 'missing' #3): span_dedup's
        fixed grid misses duplicates not aligned to span boundaries; the
        stride-1 exact_substring_spans detector is the ground truth for
        matches >= w tokens.  This pins the measured containment: every
        document the GRID flags as containing duplication is also
        flagged by the exact detector (no false positives vs ground
        truth — grid spans ARE exact repeats), and on a seeded corpus
        where duplications land at arbitrary offsets the grid still
        recovers a pinned fraction of the exactly-duplicated docs.
        The gap is the documented approximation, now quantified."""
        from pgferry_spark.operators.dedup import (
            exact_substring_spans,
            span_dedup,
        )

        # 30 docs; docs 10..29 embed a shared 12-token phrase at offset
        # (i % 7) inside unique filler -> misaligned vs the 6-token grid
        phrase = " ".join(f"dup{k}" for k in range(12))
        rows = []
        for i in range(30):
            filler = [f"u{i}w{j}" for j in range(18)]
            if i >= 10:
                off = i % 7
                words = filler[:off] + phrase.split() + filler[off:]
            else:
                words = filler
            rows.append((i, " ".join(words)))
        df = spark.createDataFrame(rows, "id: long, text: string")

        exact_ids = {
            r["id"]
            for r in exact_substring_spans(df, "text", "id", w=8).collect()
        }
        grid = span_dedup(df, "text", "id", span=6)
        grid_ids = {
            r["id"] for r in grid.collect() if r["kept_spans"] < r["n_spans"]
        }
        assert exact_ids == set(range(10, 30)) - {10}  # keeper doc kept
        # soundness: grid-flagged docs are a subset of exact-flagged
        assert grid_ids <= exact_ids
        # measured containment on misaligned duplication: the 12-token
        # phrase spans >= one full 6-token grid cell only when offset
        # lands the cell inside it; pin the floor so regressions in the
        # grid (or tokenizer) surface
        recall = len(grid_ids) / len(exact_ids)
        assert recall >= 0.25, (recall, sorted(grid_ids))
        # staggered half-band (round 10, VERDICT r9 Next #8): stride=w//2
        # on the exact detector — 2/w the span volume of stride-1, and the
        # denser alignment lattice recovers most of the grid's miss rate
        # (cross-doc matches need a COMMON aligned offset; half-stride
        # doubles the chance).  Soundness is inherited (flagged spans are
        # exact corpus repeats); pin the measured lift over the grid.
        stag_ids = {
            r["id"]
            for r in exact_substring_spans(
                df, "text", "id", w=8, stride=4
            ).collect()
        }
        assert stag_ids <= exact_ids
        stag_recall = len(stag_ids) / len(exact_ids)
        assert stag_recall >= 0.8, (stag_recall, sorted(stag_ids))
        assert stag_recall > recall  # the band buys real recall
        # round 14 (VERDICT r13 Next #4): the fixed-depth suffix-bucket
        # detector is EXACT at the 50-char threshold — recall 1.0 on the
        # same misaligned fixture the staggered band reads 0.84 on (the
        # 12-token shared phrase is 61 chars, over threshold at every
        # offset; the keeper doc 10 is the one legitimately unflagged)
        from pgferry_spark.operators.dedup import exact_substring_spans_exact

        sx_ids = {
            r["id"]
            for r in exact_substring_spans_exact(
                df, "text", "id", depth=50
            ).collect()
        }
        assert sx_ids == exact_ids  # == set(range(11, 30)): recall 1.0

    def test_strided_spans_match_stride1_on_aligned_dups(self, spark):
        """stride>1 semantics: on duplicates ALIGNED to the stride
        lattice the strided detector returns the same flagged docs as
        stride-1, the tail window is always covered, and stride=1 via
        the struct path is unreachable (default path unchanged)."""
        from pgferry_spark.operators.dedup import exact_substring_spans

        phrase = " ".join(f"p{k}" for k in range(8))
        rows = [
            (1, phrase + " " + " ".join(f"a{j}" for j in range(8))),
            (2, phrase + " " + " ".join(f"b{j}" for j in range(8))),
            # doc 3 duplicates doc 1's TAIL 8 tokens at its own tail
            (3, " ".join(f"c{j}" for j in range(8))
                + " " + " ".join(f"a{j}" for j in range(8))),
            (4, " ".join(f"d{j}" for j in range(16))),
        ]
        df = spark.createDataFrame(rows, "id: long, text: string")
        s1 = {(r["id"], r["span_start"], r["span_end"])
              for r in exact_substring_spans(df, "text", "id", w=8).collect()}
        s8 = {(r["id"], r["span_start"], r["span_end"])
              for r in exact_substring_spans(
                  df, "text", "id", w=8, stride=8
              ).collect()}
        # aligned phrase at pos 0: doc 2 flagged by both; the tail dup
        # (doc 3 pos 8 == doc 1 pos 8) is lattice-aligned AND tail-covered
        assert {i for i, *_ in s1} == {2, 3}
        assert s8 == s1

    def test_within_doc_repetition_also_dedups(self, spark):
        from pgferry_spark.operators.dedup import span_dedup

        df = spark.createDataFrame(
            [(7, "p q r p q r")], "id: long, text: string"
        )
        got = span_dedup(df, "text", "id", span=3).collect()[0]
        assert got["kept_text"] == "p q r"
        assert (got["n_spans"], got["kept_spans"]) == (2, 1)

    def test_blank_docs_excluded(self, spark):
        from pgferry_spark.operators.dedup import span_dedup

        df = spark.createDataFrame(
            [(1, "x y"), (2, "   ")], "id: long, text: string"
        )
        assert [r["id"] for r in span_dedup(df, "text", "id").collect()] == [1]


class TestSemDeDup:
    def test_matches_per_cell_brute_force(self, spark):
        import numpy as np

        from pgferry_spark.operators.dedup import semdedup

        rng = np.random.default_rng(11)
        vecs = rng.normal(size=(40, 8)).astype("float64")
        vecs[13] = vecs[5] * 2.0          # same direction -> cosine 1.0
        vecs[21] = vecs[5] + 0.001        # near-dup of 5
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        cents = [[float(x) for x in vecs[i]] for i in range(4)]
        got = {
            r["id"]: r
            for r in semdedup(
                df, "embedding", "vec_id", threshold=0.9, n_cells=4,
                centroids=cents,
            ).collect()
        }
        assert len(got) == 40

        # brute-force reference with the same cell assignment + rounding
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        C = np.array(cents)
        cells = []
        for v in vecs:
            dots = np.round(v @ C.T, 4)
            best = max(range(4), key=lambda i: (dots[i], -i))
            cells.append(best)
        for i in range(40):
            assert got[i]["cell_id"] == cells[i]
            S = np.floor(unit @ unit[i] * 1e4 + 0.5 * np.sign(unit @ unit[i])) / 1e4
            dup = any(
                cells[j] == cells[i] and j < i and S[j] >= 0.9 for j in range(40)
            )
            assert got[i]["is_kept"] == (not dup), f"row {i}"
        # the engineered dups were actually caught (same cell by construction)
        assert not got[13]["is_kept"] and not got[21]["is_kept"]

    def test_gemm_stripes_bit_identical(self, spark):
        import numpy as np

        from pgferry_spark.operators.dedup import semdedup

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(50, 8))
        vecs[30] = vecs[7] * 1.5
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        cents = [[float(x) for x in vecs[i]] for i in range(2)]
        kw = dict(threshold=0.9, n_cells=2, centroids=cents)
        whole = {
            (r["id"], r["cell_id"], r["is_kept"])
            for r in semdedup(df, "embedding", "vec_id",
                              gemm_block=1024, **kw).collect()
        }
        striped = {
            (r["id"], r["cell_id"], r["is_kept"])
            for r in semdedup(df, "embedding", "vec_id",
                              gemm_block=7, **kw).collect()
        }
        assert whole == striped  # memory bounding must not change output

    def test_max_cell_skips_oversized_cell(self, spark):
        import numpy as np

        from pgferry_spark.operators.dedup import semdedup

        rng = np.random.default_rng(5)
        base = rng.normal(size=8)
        # 20 near-identical vectors all in cell 0 (oversized), 3 in cell 1
        hot = [base + rng.normal(scale=1e-4, size=8) for _ in range(20)]
        cold = [-base + rng.normal(scale=1e-4, size=8) for _ in range(3)]
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(hot + cold)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        cents = [[float(x) for x in base], [float(-x) for x in base]]
        capped = {
            r["id"]: r
            for r in semdedup(df, "embedding", "vec_id", threshold=0.9,
                              centroids=cents, max_cell=10).collect()
        }
        # oversized cell: verify skipped, everything kept (honest under-
        # clustering signal, bounded work)
        assert all(capped[i]["is_kept"] for i in range(20))
        # small cell still deduped exactly: 2 of the 3 near-dups dropped
        assert capped[20]["is_kept"]
        assert not capped[21]["is_kept"] and not capped[22]["is_kept"]


class TestProductQuantization:
    def test_codes_match_brute_force(self, spark):
        import numpy as np

        from pgferry_spark.operators.similarity import pq_codebooks, pq_encode

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(30, 8)).astype("float64")
        vecs[20] = vecs[4]  # exact dup must encode identically
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

        m, k = 2, 4
        books = pq_codebooks(df, "embedding", "vec_id", m=m, k=k)
        assert len(books) == m and all(len(b) == k for b in books)
        got = {r["vec_id"]: r for r in
               pq_encode(df, "embedding", "vec_id", m=m, k=k).collect()}

        d = 8 // m
        for i, v in enumerate(vecs):
            dists = []
            for s in range(m):
                sub = v[s * d:(s + 1) * d]
                ds = [round(float(np.linalg.norm(sub - np.array(c))), 4)
                      for c in books[s]]
                code = min(range(k), key=lambda j: (ds[j], j))
                assert got[i]["codes"][s] == code, f"row {i} sub {s}"
                dists.append(ds[code])
            exp_err = round(float(np.sqrt(sum(x * x for x in dists))), 4)
            assert abs(got[i]["recon_err"] - exp_err) < 1e-9
        assert got[20]["codes"] == got[4]["codes"]
        # codebook vectors encode to themselves with zero error
        assert got[2]["codes"][0] == 2 and got[2]["recon_err"] == 0.0

    def test_dim_not_divisible_raises(self, spark):
        import pytest as _pytest

        from pgferry_spark.operators.similarity import pq_encode

        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "vec_id: long, embedding: array<double>"
        )
        with _pytest.raises(ValueError, match="not divisible"):
            pq_encode(df, "embedding", "vec_id", m=2, k=1)


class TestKnnGraph:
    def test_topk_among_candidates_and_exact_on_tight_cluster(self, spark):
        import numpy as np

        from pgferry_spark.operators.similarity import knn_graph

        rng = np.random.default_rng(7)
        base = rng.normal(size=8)
        # 10 vectors tightly around `base` (all land in one LSH bucket and
        # are mutual near-neighbors) + 10 scattered vectors
        tight = base + rng.normal(scale=1e-3, size=(10, 8))
        wild = rng.normal(size=(10, 8))
        vecs = np.vstack([tight, wild])
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

        out = knn_graph(df, "embedding", "vec_id", k=3, n_planes=16,
                        bands=8, dim=8)
        got = out.collect()
        by_src = {}
        for r in got:
            by_src.setdefault(r["src"], []).append(r)

        # ranks are 1..k, ordered by (sim desc, dst asc), no self-edges
        for src, edges in by_src.items():
            edges.sort(key=lambda r: r["rank"])
            assert [e["rank"] for e in edges] == list(range(1, len(edges) + 1))
            sims = [e["cosine_sim"] for e in edges]
            assert sims == sorted(sims, reverse=True) or len(set(sims)) < len(sims)
            assert all(e["dst"] != src for e in edges)

        # within the tight cluster every member sees 3 cluster-mates with
        # cosine ~1.0 (candidates guaranteed: identical signatures)
        for src in range(10):
            edges = by_src[src]
            assert len(edges) == 3
            assert all(e["dst"] in range(10) for e in edges)
            assert all(e["cosine_sim"] > 0.999 for e in edges)


    def test_hot_bucket_cap_excludes_degenerate_bucket(self, spark):
        import numpy as np

        from pgferry_spark.operators.similarity import knn_graph

        rng = np.random.default_rng(11)
        # 30 IDENTICAL vectors: same sign pattern on every plane, so they
        # form one degenerate bucket in EVERY band (the boilerplate-
        # embedding failure mode the cap exists for) + 8 scattered vectors
        hot = np.tile(rng.normal(size=8), (30, 1))
        wild = rng.normal(size=(8, 8))
        vecs = np.vstack([hot, wild])
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

        uncapped = knn_graph(df, "embedding", "vec_id", k=3, n_planes=16,
                             bands=8, dim=8).collect()
        capped = knn_graph(df, "embedding", "vec_id", k=3, n_planes=16,
                           bands=8, dim=8, max_bucket=10).collect()

        hot_ids = set(range(30))
        # uncapped: the degenerate bucket dominates (30*29 directed pairs
        # feed the windows) — hot members see hot neighbors
        assert any(r["src"] in hot_ids and r["dst"] in hot_ids for r in uncapped)
        # capped: every bucket containing the 30 twins exceeds the cap, so
        # no hot-hot edge survives anywhere
        assert not any(
            r["src"] in hot_ids and r["dst"] in hot_ids for r in capped
        )
        # scattered vectors keep a graph: the cap removes candidates, it
        # doesn't silence survivors (their buckets are small). Note their
        # top-k can legitimately DIFFER from the uncapped graph — dropping
        # hot candidates frees window slots for farther neighbors.
        wild_srcs = {r["src"] for r in capped if r["src"] not in hot_ids}
        assert wild_srcs, "non-degenerate vectors must keep edges"
        for r in capped:
            assert r["dst"] != r["src"] and 1 <= r["rank"] <= 3


def test_pq_arrow_and_expr_paths_bit_identical(spark):
    from pgferry_spark.operators.similarity import pq_encode
    from pgferry_spark.sources.parquet import read_parquet

    e = read_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    a = {r["vec_id"]: (list(r["codes"]), r["recon_err"])
         for r in pq_encode(e, "embedding", "vec_id", impl="arrow").collect()}
    x = {r["vec_id"]: (list(r["codes"]), r["recon_err"])
         for r in pq_encode(e, "embedding", "vec_id", impl="expr").collect()}
    assert a == x


def test_span_dedup_corpus_invariants(spark):
    """Corpus-level conservation laws: total kept spans == distinct spans
    corpus-wide, and the lowest-id document always survives untouched
    (keep-first means nothing precedes it)."""
    import random

    from pgferry_spark.operators.dedup import span_dedup

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]  # small vocab -> many shared spans
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "id: long, text: string")
    out = span_dedup(df, "text", "id", span=4).collect()

    # conservation: every distinct span survives exactly once
    from pyspark.sql import functions as FF
    from pyspark.sql.window import Window as WW

    toks = FF.split(FF.trim(FF.col("text")), r"\s+")
    n_sp = FF.ceil(FF.size(toks) / FF.lit(4)).cast("int")
    spans = df.select(
        FF.posexplode(
            FF.transform(
                FF.sequence(FF.lit(0), n_sp - 1),
                lambda i: FF.array_join(FF.slice(toks, i * 4 + 1, 4), " "),
            )
        ).alias("idx", "sp")
    )
    distinct_spans = spans.select("sp").distinct().count()
    assert sum(r["kept_spans"] for r in out) == distinct_spans

    first = next(r for r in out if r["id"] == 0)
    doc0_first_span_unique_prefix = rows[0][1]
    # doc 0 keeps every span not already seen EARLIER IN ITSELF; with
    # within-doc repeats possible, assert the weaker-but-exact law:
    # its kept_text is a subsequence reconstruction whose token count
    # equals its distinct-span token total
    assert first["kept_spans"] >= 1
    assert first["kept_text"].split()[:4] == doc0_first_span_unique_prefix.split()[:4]


class TestNameMatchPairs:
    def test_jaccard_and_blocking(self, spark):
        from pgferry_spark.operators.dedup import name_match_pairs

        df = spark.createDataFrame(
            [(1, "red widget"), (2, "red widgett"), (3, "blue bolt"),
             (4, "red widget"), (5, "zz")],
            "id: long, name: string",
        )
        got = {(r["id_a"], r["id_b"]): r["jacc"]
               for r in name_match_pairs(df, "name", "id", threshold=0.5).collect()}
        assert got[(1, 4)] == 1.0              # exact dup
        assert got[(1, 2)] == got[(2, 4)] == 0.8889  # 8 shared / 9 union
        assert (1, 3) not in got and (3, 5) not in got
        # short names fall back to the whole string as the only gram
        short = spark.createDataFrame(
            [(1, "ab"), (2, "ab"), (3, "cd")], "id: long, name: string"
        )
        g = {(r["id_a"], r["id_b"]): r["jacc"]
             for r in name_match_pairs(short, "name", "id", threshold=0.5).collect()}
        assert g == {(1, 2): 1.0}

    def test_gram_df_cap_drops_serial_prefix_noise(self, spark):
        from pgferry_spark.operators.dedup import name_match_pairs

        # serial-numbered names: the shared "#00…" prefix grams pair
        # EVERYTHING without the cap
        df = spark.createDataFrame(
            [(i, f"Customer#00000{i:03d}") for i in range(50)],
            "id: long, name: string",
        )
        uncapped = name_match_pairs(df, "name", "id", threshold=0.5)
        capped = name_match_pairs(df, "name", "id", threshold=0.5, max_gram_df=10)
        assert capped.count() < uncapped.count()


def test_span_dedup_agg_keeper_bit_identical(spark):
    """The hot-span-safe aggregate keeper must reproduce the window path
    exactly — same keepers, same reassembly, on a corpus with heavy
    cross-doc and within-doc span repetition."""
    import random

    from pgferry_spark.operators.dedup import span_dedup

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id: long, text: string")
    a = sorted(map(tuple, span_dedup(df, "text", "id", span=3).collect()))
    b = sorted(map(tuple,
                   span_dedup(df, "text", "id", span=3, keeper="agg").collect()))
    assert a == b


def test_ri_audit_summarizes_per_fk(spark):
    from pgferry_spark.operators.orphans import ri_audit

    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 10)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    clean_child = spark.createDataFrame([(1, 20)], "id long, fk long")
    out = {
        r.fk_name: (r.child_rows, r.null_fk_rows, r.orphan_rows)
        for r in ri_audit([
            ("dirty", child, parent, ["fk"], ["pk"]),
            ("clean", clean_child, parent, ["fk"], ["pk"]),
        ]).collect()
    }
    # row 2 is the only orphan; row 3's NULL fk is MATCH SIMPLE exempt
    assert out == {"dirty": (4, 1, 1), "clean": (1, 0, 0)}


def test_jaccard_all_pairs_exact_and_blocked(spark):
    from pgferry_spark.operators.dedup import jaccard_all_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon"),  # jacc 2/4? grams3: doc1 {abg,bgd}, doc2 {abg,bgd,gde} -> 2/3
            (3, "totally different words here now"),
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): r.jaccard for r in jaccard_all_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()}
    assert got == {(1, 2): round(2 / 3, 4)}


def test_pair_recall_guards_and_arithmetic(spark):
    from pgferry_spark.operators.dedup import pair_recall

    exact = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    approx = spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long")
    r = pair_recall(exact, approx).collect()[0]
    assert (r.n_exact, r.n_approx, r.n_hit, r.recall, r.precision) == (2, 2, 1, 0.5, 0.5)
    # empty sides yield NULL, not a division error (ANSI mode)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    r2 = pair_recall(empty, approx).collect()[0]
    assert r2.n_exact == 0 and r2.recall is None and r2.precision == 0.0


def test_containment_detects_excerpt(spark):
    from pgferry_spark.operators.dedup import containment_pairs, jaccard_pairs

    article = "one two three four five six seven eight nine ten eleven twelve"
    excerpt = "four five six seven"
    df = spark.createDataFrame([(1, article), (2, excerpt)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    cont = containment_pairs(df, pairs, "text", "doc_id", n=3).collect()[0]
    jac = jaccard_pairs(df, pairs, "text", "doc_id", n=3).collect()[0]
    # excerpt side fully contained; Jaccard small — the case containment exists for
    assert cont.containment_b == 1.0
    assert cont.containment_a == 0.2
    assert jac.jaccard < 0.25


class TestCrossCorpusNearDup:
    def test_cross_table_pair_found_and_verified(self, spark):
        from pgferry_spark.operators.dedup import cross_corpus_near_dup

        bench = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog near the river"),
             (2, "completely unrelated legal boilerplate about indemnities")],
            "doc_id: long, text: string",
        )
        corpus = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog near the river"),
             (101, "the quick brown fox jumps over the lazy dog near the creek"),
             (102, "training corpus sentence about machine learning pipelines"),
             (103, "another sentence about distributed query processing")],
            "doc_id: long, text: string",
        )
        got = {
            (r["left_id"], r["right_id"]): r["jaccard"]
            for r in cross_corpus_near_dup(
                bench, corpus, "text", "doc_id", min_jaccard=0.5
            ).collect()
        }
        assert (1, 100) in got and got[(1, 100)] == 1.0  # exact twin
        # near twin (one word differs at the tail) shares most 3-grams
        assert (1, 101) in got and 0.5 <= got[(1, 101)] < 1.0
        # the unrelated benchmark doc matches nothing
        assert not any(l == 2 for l, _ in got)

    def test_corpus_hot_bucket_cap(self, spark):
        from pgferry_spark.operators.dedup import cross_corpus_near_dup

        bench = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id: long, text: string",
        )
        # 20 identical corpus docs -> every bucket they share is size 20
        corpus = spark.createDataFrame(
            [(100 + i, "alpha beta gamma delta epsilon zeta eta theta")
             for i in range(20)],
            "doc_id: long, text: string",
        )
        uncapped = cross_corpus_near_dup(
            bench, corpus, "text", "doc_id", min_jaccard=0.5
        ).count()
        capped = cross_corpus_near_dup(
            bench, corpus, "text", "doc_id", min_jaccard=0.5, max_bucket=10
        ).count()
        assert uncapped == 20
        assert capped == 0  # degenerate corpus buckets excluded


class TestMarginMine:
    def test_margin_normalizes_neighborhood_density(self, spark):
        import numpy as np

        from pgferry_spark.operators.similarity import margin_mine

        rng = np.random.default_rng(13)
        # a true pair: src 0 and tgt 100 are near-identical; everything
        # else is generic noise living in a dense neighborhood
        base = rng.normal(size=8)
        src_rows = [(0, [float(x) for x in base + rng.normal(scale=1e-3, size=8)])]
        src_rows += [(i, [float(x) for x in rng.normal(size=8)]) for i in range(1, 6)]
        tgt_rows = [(100, [float(x) for x in base + rng.normal(scale=1e-3, size=8)])]
        tgt_rows += [(100 + i, [float(x) for x in rng.normal(size=8)])
                     for i in range(1, 12)]
        src = spark.createDataFrame(src_rows, "vec_id: long, embedding: array<double>")
        tgt = spark.createDataFrame(tgt_rows, "vec_id: long, embedding: array<double>")
        out = {(r["left_id"], r["right_id"]): r
               for r in margin_mine(src, tgt, "embedding", "vec_id", k=3,
                                    threshold=1.0, n_planes=16, bands=8,
                                    dim=8).collect()}
        assert (0, 100) in out
        true_pair = out[(0, 100)]
        assert true_pair["cosine_sim"] > 0.999
        # within anchor 0's own neighborhood the true pair dominates by a
        # wide margin (that's the per-anchor density normalization; global
        # cross-anchor ordering is not what the score promises)
        same_anchor = [r["margin"] for k, r in out.items()
                       if k[0] == 0 and k != (0, 100)]
        assert all(true_pair["margin"] > m + 0.2 for m in same_anchor)
        assert true_pair["margin"] > 1.2

    def test_threshold_filters(self, spark):
        import numpy as np

        from pgferry_spark.operators.similarity import margin_mine

        rng = np.random.default_rng(3)
        src = spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in range(4)],
            "vec_id: long, embedding: array<double>")
        tgt = spark.createDataFrame(
            [(10 + i, [float(x) for x in rng.normal(size=8)]) for i in range(8)],
            "vec_id: long, embedding: array<double>")
        lo = margin_mine(src, tgt, "embedding", "vec_id", k=3, threshold=0.0,
                         n_planes=16, bands=8, dim=8).count()
        hi = margin_mine(src, tgt, "embedding", "vec_id", k=3, threshold=99.0,
                         n_planes=16, bands=8, dim=8).count()
        assert lo > 0 and hi == 0


class TestEmbeddingDriftPsi:
    def _clustered(self, spark, lo, hi, collapse=None):
        """Vectors near one-hot direction id%8 (centered base keeps dot-
        product argmax discriminative); collapse=k forces every vector
        onto direction k (the drifted snapshot)."""
        from pyspark.sql import functions as F

        direction = F.lit(collapse) if collapse is not None else F.pmod(F.col("id"), F.lit(8))
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: F.when(i == direction, F.lit(10.0)).otherwise(
                    F.pmod(F.xxhash64(F.col("id") * (i + 1)), F.lit(97)) / 97.0 - 0.5
                ),
            ).alias("embedding"),
        )

    def test_stable_low_shifted_high(self, spark):
        from pgferry_spark.operators.similarity import embedding_drift_psi

        old = self._clustered(spark, 0, 200)
        stable = embedding_drift_psi(
            old, self._clustered(spark, 200, 400),
            "embedding", "vec_id", n_cells=8,
        ).collect()[0]
        assert stable["psi"] < 0.1
        assert (stable["n_old"], stable["n_new"]) == (200, 200)
        # drifted: current snapshot collapses onto one direction -> all
        # mass in one cell -> PSI far past the 0.25 action bar
        shifted = embedding_drift_psi(
            old, self._clustered(spark, 200, 400, collapse=3),
            "embedding", "vec_id", n_cells=8,
        ).collect()[0]
        assert shifted["psi"] > 0.25

    def test_everything_downstream_is_cell_sized(self, spark):
        """The corpus side must stay join-free (literal-centroid argmax +
        histogram); the only joins allowed operate on the <= n_cells
        histogram rows — no Cartesian, no per-row window over vectors."""
        from pgferry_spark.operators.similarity import embedding_drift_psi

        base = self._clustered(spark, 0, 64)
        out = embedding_drift_psi(base, base, "embedding", "vec_id", n_cells=8)
        row = out.collect()[0]
        assert row["psi"] == 0.0  # identical snapshots
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "Window" not in plan


class TestPersistedScope:
    def test_no_cache_residue_after_scope(self, spark):
        """with persisted(df): every consumer inside the block reads
        the cache; on exit the explicit-cache registry is empty (the
        r12 ADVICE lifecycle mechanization)."""
        from pgferry_spark.utils import persisted

        df = spark.range(1000).withColumn("x", F.col("id") * 2)
        with persisted(df) as cached:
            assert cached.count() == 1000
            assert cached.storageLevel.useMemory
        assert not df.storageLevel.useMemory
        assert not df.storageLevel.useDisk

    def test_unpersists_on_exception(self, spark):
        from pgferry_spark.utils import persisted

        import pytest

        df = spark.range(10)
        with pytest.raises(RuntimeError):
            with persisted(df):
                df.count()
                raise RuntimeError("boom")
        assert not df.storageLevel.useMemory
