"""Connected components / dedup clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cerberus_spark.operators.graph import connected_components, dedup_clusters


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_components_basic(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)])
    got = {r.id: r.cluster_id for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_components_chain_diameter(spark):
    # a 9-node path needs several propagation rounds (label halving)
    e = _edges(spark, [(i, i + 1) for i in range(8)])
    got = {r.id: r.cluster_id for r in connected_components(e).collect()}
    assert got == {i: 0 for i in range(9)}


def test_components_nonconvergence_raises(spark):
    e = _edges(spark, [(0, 1), (1, 2), (2, 3)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iters=1, driver_threshold=None)


def test_dedup_clusters_survivor_flags(spark):
    e = _edges(spark, [(5, 9), (9, 7), (30, 31)])
    rows = {r.id: (r.cluster_id, r.csize, r.keep) for r in dedup_clusters(e).collect()}
    assert rows == {
        5: (5, 3, True),
        7: (5, 3, False),
        9: (5, 3, False),
        30: (30, 2, True),
        31: (30, 2, False),
    }


def test_path_graph_converges_logarithmically(spark):
    """A 128-edge chain (diameter 128) must converge within the
    documented ~log2(diameter) bound — plain one-hop propagation would
    need 128 rounds; pointer shortcutting gets there in ~log2."""
    from cerberus_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(128)], "id_a long, id_b long"
    )
    cc = connected_components(edges, max_iters=12, driver_threshold=None)
    got = {r.id: r.cluster_id for r in cc.collect()}
    assert got == {i: 0 for i in range(129)}


def test_components_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir mode (reliable checkpoint() — the cluster-scale
    setting that survives executor loss) must produce identical labels
    to the default localCheckpoint mode, and must actually write
    checkpoint data into the directory."""
    import os

    from cerberus_spark.operators.graph import connected_components, dedup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 30)], "id_a long, id_b long"
    )
    ckdir = str(tmp_path / "cc_ckpt")
    local = {
        r.id: r.cluster_id
        for r in connected_components(edges, driver_threshold=None).collect()
    }
    reliable = {
        r.id: r.cluster_id
        for r in connected_components(
            edges, checkpoint_dir=ckdir, driver_threshold=None
        ).collect()
    }
    assert reliable == local
    assert any(os.scandir(ckdir)), "no checkpoint data written"
    # pass-through on the clustering wrapper
    dk = {
        (r.id, r.cluster_id, r.csize, r.keep)
        for r in dedup_clusters(
            edges, checkpoint_dir=ckdir, driver_threshold=None
        ).collect()
    }
    assert (1, 1, 3, True) in dk and (3, 1, 3, False) in dk


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_driver_fast_path_equals_iterative(spark, seed):
    """The adaptive driver union-find must produce byte-identical
    labels to the distributed iteration on random graphs (chains,
    cliques, singleton self-loops, forests)."""
    import random

    rng = random.Random(seed)
    nodes = list(range(60))
    e = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges = _edges(spark, e)
    fast = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    slow = {
        r.id: r.cluster_id
        for r in connected_components(edges, driver_threshold=None).collect()
    }
    assert fast == slow


def test_cluster_representatives_policy(spark):
    from cerberus_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "id long, cluster_id long"
    )
    attrs = spark.createDataFrame(
        # cluster 1: max quality 90 shared by ids 2 and 3 -> min id 2 wins
        # cluster 10: 11 strictly longest
        [(1, 50), (2, 90), (3, 90), (10, 5), (11, 6), (99, 1000)],
        "doc_id long, n_chars long",
    )
    rows = {
        r.cluster_id: (r.rep_id, r.csize, r.rep_quality)
        for r in cluster_representatives(clusters, attrs, "doc_id", "n_chars").collect()
    }
    # id 99 is unclustered: never appears
    assert rows == {1: (2, 3, 90), 10: (11, 2, 6)}


def test_cluster_representatives_string_ids(spark):
    """The tiebreak must not negate the id (only the numeric quality):
    string doc ids order natively — max quality, then MIN id."""
    from cerberus_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [("docB", "docA"), ("docA", "docA"), ("docC", "docA")],
        "id string, cluster_id string",
    )
    attrs = spark.createDataFrame(
        # max quality 9 shared by docC and docB -> min id docB wins
        [("docA", 1), ("docB", 9), ("docC", 9)],
        "doc_id string, n_chars long",
    )
    rows = {
        r.cluster_id: (r.rep_id, r.csize, r.rep_quality)
        for r in cluster_representatives(clusters, attrs, "doc_id", "n_chars").collect()
    }
    assert rows == {"docA": ("docB", 3, 9)}


def test_cluster_representatives_null_quality(spark):
    """A NULL-quality member must never win representative selection
    (a NULL inside the sort struct would otherwise order BEFORE every
    real quality and always be picked, while rep_quality = max(q)
    described a different doc); an all-NULL cluster falls back to the
    smallest id with rep_quality NULL."""
    from cerberus_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (21, 20), (20, 20)], "id long, cluster_id long"
    )
    attrs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, None), (20, None), (21, None)],
        "doc_id long, n_chars long",
    )
    rows = {
        r.cluster_id: (r.rep_id, r.csize, r.rep_quality)
        for r in cluster_representatives(clusters, attrs, "doc_id", "n_chars").collect()
    }
    assert rows == {1: (2, 3, 9), 20: (20, 2, None)}


def test_reliable_checkpoint_rounds_are_reclaimed(spark, tmp_path):
    """checkpoint_dir mode must delete superseded per-round label
    checkpoints as the iteration advances: at exit only the FINAL
    round's subdirectory remains (it backs the returned DataFrame) —
    not one |nodes|-sized table per round, and not the edges copy."""
    import os

    from cerberus_spark.operators.graph import connected_components

    # an 8-edge chain needs several shortcutting rounds -> several
    # labels_r* checkpoints would otherwise pile up
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    ckdir = tmp_path / "cc_gc"
    cc = connected_components(
        edges, checkpoint_dir=str(ckdir), driver_threshold=None
    )
    got = {r.id: r.cluster_id for r in cc.collect()}
    assert got == {i: 0 for i in range(9)}
    # layout: one per-invocation cc-* namespace, holding ONLY the
    # final round's label checkpoint
    ns = [e.name for e in os.scandir(ckdir)]
    assert len(ns) == 1 and ns[0].startswith("cc-"), ns
    remaining = sorted(e.name for e in os.scandir(ckdir / ns[0]))
    assert len(remaining) == 1 and remaining[0].startswith("labels_r"), remaining


def test_checkpoint_dir_reuse_is_safe(spark, tmp_path):
    """Two calls sharing one checkpoint_dir must not interfere: the
    second call's per-round reclaim previously deleted the fixed-name
    subdirectories still backing the first call's returned DataFrame
    (collect after the second run died with FileNotFoundException).
    Per-invocation cc-* namespaces make reuse safe."""
    from cerberus_spark.operators.graph import connected_components

    ckdir = str(tmp_path / "cc_shared")
    cc1 = connected_components(
        spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long"),
        checkpoint_dir=ckdir,
        driver_threshold=None,
    )
    assert {r.id: r.cluster_id for r in cc1.collect()} == {i: 0 for i in range(9)}
    cc2 = connected_components(
        spark.createDataFrame([(10, 11), (11, 12)], "id_a long, id_b long"),
        checkpoint_dir=ckdir,
        driver_threshold=None,
    )
    assert {r.id: r.cluster_id for r in cc2.collect()} == {10: 10, 11: 10, 12: 10}
    # cc1 must still be collectable AFTER cc2 ran its reclaim
    assert {r.id: r.cluster_id for r in cc1.collect()} == {i: 0 for i in range(9)}


def test_driver_fast_path_checkpoint_cleanup(spark, tmp_path):
    """The driver fast path's result is driver-local — the edges
    checkpoint must not survive it."""
    import os

    from cerberus_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    ckdir = tmp_path / "cc_fast"
    got = {
        r.id: r.cluster_id
        for r in connected_components(edges, checkpoint_dir=str(ckdir)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}
    assert not any(os.scandir(ckdir)), "edges checkpoint not reclaimed"


def _random_edges(spark, seed, nullable):
    import random

    rng = random.Random(seed)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = _edges(spark, pairs)
    if not nullable:
        edges = edges.select(*(F.coalesce(c, F.lit(0)).alias(c) for c in edges.columns))
        assert not any(f.nullable for f in edges.schema)
    return edges


@pytest.mark.parametrize("nullable", [True, False])
@pytest.mark.parametrize("seed", [0, 1])
def test_dedup_clusters_regimes_agree(spark, seed, nullable):
    """The driver union-find and the distributed iteration
    (``driver_threshold=1``) give equal rows and an equal schema,
    nullability included."""
    edges = _random_edges(spark, seed, nullable)
    fast = dedup_clusters(edges)
    slow = dedup_clusters(edges, driver_threshold=1)
    assert fast.schema == slow.schema
    assert sorted(fast.collect()) == sorted(slow.collect())
    cc_fast = connected_components(edges)
    cc_slow = connected_components(edges, driver_threshold=1)
    assert cc_fast.schema == cc_slow.schema


def test_over_threshold_runs_upstream_once(spark):
    """Over ``driver_threshold`` the bounded collect and the iteration
    read the same checkpointed edges: every upstream row is computed
    once."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        seen.add(1)
        return x

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21)]
    edges = _edges(spark, pairs).withColumn("id_a", tick("id_a"))
    got = {r.id: (r.cluster_id, r.csize) for r in dedup_clusters(edges, driver_threshold=2).collect()}
    assert got[4] == (1, 4) and got[12] == (10, 3) and got[21] == (20, 2)
    assert seen.value == len(pairs)
