from pyspark.sql import functions as F

from pgferry_spark.operators.dedup import dedup_clusters
from pgferry_spark.operators.incremental import (
    apply_changes,
    latest_changes,
    scd2_history,
)


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k: long, name: string, bal: double",
    )


def test_apply_changes_upsert_delete_insert(spark):
    changes = spark.createDataFrame(
        [
            (2, "U", 5, "b2", 21.0),   # update
            (3, "D", 6, "c", 30.0),    # delete
            (9, "I", 7, "new", 90.0),  # insert
        ],
        "k: long, op: string, seq: long, name: string, bal: double",
    )
    got = {r["k"]: (r["name"], r["bal"]) for r in apply_changes(_base(spark), changes, "k", "seq").collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 9: ("new", 90.0)}


def test_apply_changes_last_write_wins(spark):
    changes = spark.createDataFrame(
        [(2, "U", 5, "x", 1.0), (2, "U", 8, "y", 2.0), (2, "D", 6, "y", 2.0)],
        "k: long, op: string, seq: long, name: string, bal: double",
    )
    # seq 8 (update) outranks the delete at seq 6
    got = {r["k"]: r["name"] for r in apply_changes(_base(spark), changes, "k", "seq").collect()}
    assert got[2] == "y"
    latest = latest_changes(changes, "k", "seq").collect()
    assert len(latest) == 1 and latest[0]["seq"] == 8


def test_scd2_versions_and_current_flag(spark):
    changes = spark.createDataFrame(
        [
            (1, "I", 10, "a", 1.0),
            (1, "U", 20, "a", 2.0),
            (1, "U", 30, "a", 3.0),
            (2, "I", 10, "b", 1.0),
            (2, "D", 40, "b", 1.0),
        ],
        "k: long, op: string, seq: long, name: string, bal: double",
    )
    hist = scd2_history(changes, "k", "seq").collect()
    k1 = sorted([r for r in hist if r["k"] == 1], key=lambda r: r["valid_from"])
    assert [(r["valid_from"], r["valid_to"], r["is_current"]) for r in k1] == [
        (10, 20, False), (20, 30, False), (30, None, True),
    ]
    k2 = [r for r in hist if r["k"] == 2]
    # version closed by the delete; no current row survives
    assert len(k2) == 1 and k2[0]["valid_to"] == 40 and not k2[0]["is_current"]


def test_dedup_clusters_transitive(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a: long, id_b: long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    # chain 1-2-3-4 collapses to one cluster even though 1~4 was never a pair
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def _brute_components(edge_list):
    """Driver-side union-find ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_matches_label_prop_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        edge_list = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(40)
        ]
        edge_list = [(a, b) for a, b in edge_list if a != b] or [(0, 1)]
        pairs = spark.createDataFrame(edge_list, "id_a: long, id_b: long")
        star = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, algorithm="star").collect()
        }
        prop = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_clusters(pairs, algorithm="label_prop").collect()
        }
        truth = _brute_components(edge_list)
        assert star == prop == truth, f"trial {trial}"


def test_star_logarithmic_rounds_on_path_graph(spark):
    """A 1000-node path (diameter 999) must converge in O(log d) rounds —
    the whole point of the large-star/small-star alternation; min-label
    propagation would need ~999 rounds here."""
    import math

    from pgferry_spark.operators.dedup import _cc_star

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a: long, id_b: long"
    ).coalesce(4)
    labels, rounds = _cc_star(pairs, "id_a", "id_b", max_iter=50)
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    # paper bound is O(log^2 n) worst case, ~log2(d) in practice; +3 covers
    # the confirming round and alternation slack
    assert rounds <= math.ceil(math.log2(n)) + 3, rounds


def test_maintain_grouped_agg_matches_recompute_with_group_move(spark):
    from pgferry_spark.operators.incremental import (
        apply_changes, maintain_grouped_agg,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k long, g string, v double",
    )
    # update moving key 2 from group a to b; delete 3; insert 4 into a
    changes = spark.createDataFrame(
        [
            (2, "U", 1, "b", 25.0),
            (3, "D", 1, "b", 30.0),
            (4, "I", 1, "a", 40.0),
        ],
        "k long, op string, seq long, g string, v double",
    )
    old_agg = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    inc = {
        r.g: (r.n, r.total)
        for r in maintain_grouped_agg(
            old_agg, base, changes, "k", "g", "v", "seq"
        ).collect()
    }
    scratch = {
        r.g: (r.n, r.total)
        for r in apply_changes(base, changes, "k", "seq")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .collect()
    }
    assert inc == scratch == {"a": (2, 50.0), "b": (1, 25.0)}


def test_maintain_grouped_agg_drops_emptied_group(spark):
    from pgferry_spark.operators.incremental import maintain_grouped_agg

    base = spark.createDataFrame([(1, "only", 5.0)], "k long, g string, v double")
    changes = spark.createDataFrame(
        [(1, "D", 1, "only", 5.0)], "k long, op string, seq long, g string, v double"
    )
    old_agg = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("total")
    )
    assert maintain_grouped_agg(old_agg, base, changes, "k", "g", "v", "seq").count() == 0
