"""semantic_dedup (operators/similarity.py): SemDeDup-style cluster-then-
prune behavior laws on constructed geometry."""

import math

from bbt_etl_dw_spark.operators.similarity import semantic_dedup

ROWS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
    (3, [0.998, -0.02, 0.0, 0.0]),  # near-dup of 1 and 2
    (10, [0.0, 1.0, 0.0, 0.0]),
    (11, [0.01, 0.999, 0.0, 0.0]),  # near-dup of 10
    (20, [0.0, 0.0, 1.0, 0.0]),     # isolated
]


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_semantic_dedup_single_cluster_is_pure_near_dedup(spark):
    """nlist=1 puts everything in one cluster: exact greedy min-id
    semantics, no cluster-boundary effects."""
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            _emb(spark, ROWS), nlist=1, iters=1, threshold=0.95
        ).collect()
    }
    assert len(out) == 6
    kept = {k for k, r in out.items() if r["kept"]}
    assert kept == {1, 10, 20}  # min-id reps + the isolated vector


def test_semantic_dedup_obeys_its_law_under_any_clustering(spark):
    """Whatever clusters k-means produced, the disposition must satisfy:
    dropped <=> exists same-cluster smaller-id neighbor with cosine >=
    threshold (verified against a brute-force reference over the RETURNED
    assignment)."""
    thr = 0.95
    vecs = dict(ROWS)
    got = semantic_dedup(_emb(spark, ROWS), nlist=4, iters=2, threshold=thr).collect()
    cluster = {r["vec_id"]: r["cluster_id"] for r in got}
    for r in got:
        vid = r["vec_id"]
        should_drop = any(
            o < vid and cluster[o] == cluster[vid] and _cos(vecs[o], vecs[vid]) >= thr
            for o in vecs
        )
        assert r["kept"] == (not should_drop), (vid, cluster, r["kept"])


def test_semantic_dedup_threshold_monotone(spark):
    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(10)]
    df = _emb(spark, rows)
    loose = sum(
        1
        for r in semantic_dedup(df, nlist=1, iters=1, threshold=0.9).collect()
        if r["kept"]
    )
    tight = sum(
        1
        for r in semantic_dedup(df, nlist=1, iters=1, threshold=0.999999).collect()
        if r["kept"]
    )
    assert loose <= tight  # higher threshold drops fewer
    assert loose == 1      # all near-identical: one representative at 0.9


def test_incremental_semantic_dedup_against_index_and_within_batch(spark):
    from bbt_etl_dw_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_index,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]  # frozen, hand-chosen: x vs y axis
    corpus = _emb(spark, [(1, [1.0, 0.0]), (10, [0.0, 1.0])])
    index = semantic_index(corpus, cents)

    batch = _emb(
        spark,
        [
            (2, [0.999, 0.02]),   # near-dup of indexed 1 -> dropped
            (20, [0.02, 0.999]),  # near-dup of indexed 10 -> dropped
            (30, [0.7, 0.7]),     # new direction -> kept (one of the pair)
            (31, [0.71, 0.7]),    # within-batch near-dup of 30 -> dropped
        ],
    )
    out = incremental_semantic_dedup(index, batch, cents, threshold=0.98)
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert set(got) == {30}
    assert got[30] in (0, 1)  # assigned under the frozen centroids

    # survivors carry original batch columns (embedding intact)
    row = out.first()
    assert row["embedding"] == [0.7, 0.7]


def test_incremental_semantic_dedup_cross_cluster_blindness(spark):
    """By design (same trade as semantic_dedup): an identical vector in a
    DIFFERENT cluster is not compared — the frozen-centroid assignment is
    the probe key."""
    from bbt_etl_dw_spark.operators.similarity import (
        incremental_semantic_dedup,
        semantic_index,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    index = semantic_index(_emb(spark, [(1, [0.6, 0.55])]), cents)  # cluster 0
    batch = _emb(spark, [(2, [0.55, 0.6])])                         # cluster 1
    out = incremental_semantic_dedup(index, batch, cents, threshold=0.9)
    assert [r["vec_id"] for r in out.collect()] == [2]  # survives: other cluster


# --- checkpoint auto-selection (operators/ckpt) ---------------------------


def _unset_checkpoint_dir(sc):
    # Spark exposes no public un-setter; clear the scala Option directly so
    # the session fixture returns to its zero-config state for later tests.
    scala_none = getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)
    assert sc.getCheckpointDir() is None


def test_materialize_auto_selects_reliable_with_checkpoint_dir(spark, tmp_path):
    """With a checkpoint dir configured, iterative paths must default to
    RELIABLE checkpoints (VERDICT r07 #3): localCheckpoint blocks die with
    their executor and truncated lineage cannot be recomputed, so on a
    real cluster the local flavor turns one executor loss into a dead job."""
    from bbt_etl_dw_spark.operators.ckpt import materialize

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # test session is zero-config
    df = spark.range(10)

    # no dir -> local flavor: isLocallyCheckpointed true after action
    out = materialize(df)
    assert out.count() == 10
    assert out.rdd.context is sc

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rel = materialize(spark.range(10))
        assert rel.count() == 10
        # a reliable checkpoint writes files under the configured dir
        files = list((tmp_path / "ckpt").rglob("*"))
        assert files, "reliable checkpoint selected no files written"
    finally:
        _unset_checkpoint_dir(sc)


def test_lazy_materialize_defers_local_and_checkpoints_reliable_eagerly(
    spark, tmp_path, count_jobs
):
    """The lazy flavour: with no checkpoint dir the call runs no job (the
    next action writes the local blocks); with one it checkpoints eagerly
    to reliable files, since a lazy reliable checkpoint would recompute
    its input for the file write."""
    from bbt_etl_dw_spark.operators.ckpt import lazy_materialize

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    jobs, out = count_jobs(lambda: lazy_materialize(spark.range(10)))
    assert jobs == 0
    assert out.count() == 10

    sc.setCheckpointDir(str(tmp_path / "lazy_ckpt"))
    try:
        jobs, rel = count_jobs(lambda: lazy_materialize(spark.range(10)))
        assert jobs >= 1
        assert list((tmp_path / "lazy_ckpt").rglob("part-*")), "no reliable files"
        assert rel.count() == 10
    finally:
        _unset_checkpoint_dir(sc)


def test_dedup_clusters_reliable_auto(spark, tmp_path):
    """dedup_clusters under a configured checkpoint dir runs the reliable
    path end-to-end and produces identical components."""
    from bbt_etl_dw_spark.operators.dedup import dedup_clusters

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    expect = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    got_local = {
        (r.doc_id, r.cluster_id) for r in dedup_clusters(edges).collect()
    }
    assert got_local == expect

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "cc_ckpt"))
    try:
        got_rel = {
            (r.doc_id, r.cluster_id) for r in dedup_clusters(edges).collect()
        }
        assert got_rel == expect
        assert list((tmp_path / "cc_ckpt").rglob("*")), "reliable path unused"
    finally:
        _unset_checkpoint_dir(sc)


def test_engine_paths_under_reliable_checkpoint_dir(spark, tmp_path):
    """Engine-wide reliable-materialization smoke (r08): with a checkpoint
    dir configured, every materialize()-routed path switches to reliable
    checkpoints — results must be identical to the local flavor across a
    representative operator spread (jaccard pairs, fuzzy lookup, BFS,
    snapshot diff)."""
    from pyspark.sql import functions as F

    from bbt_etl_dw_spark.operators.dedup import ngram_jaccard_pairs
    from bbt_etl_dw_spark.operators.diff import snapshot_diff
    from bbt_etl_dw_spark.operators.er import blocked_fuzzy_lookup
    from bbt_etl_dw_spark.operators.traversal import bfs_hops

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no shared phrases here"),
        ],
        "doc_id long, text string",
    )
    canon = spark.createDataFrame(
        [("FRANCE", 1), ("GERMANY", 2)], "cname string, key long"
    )
    probe = spark.createDataFrame([("FRANCE",), ("GERMANX",)], "name string")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    srcs = spark.createDataFrame([(1,)], "node long")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    new = spark.createDataFrame([(1, "a"), (2, "c"), (3, "d")], "k long, v string")

    def run_all():
        return (
            sorted(map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text").collect())),
            sorted(map(tuple, blocked_fuzzy_lookup(
                probe, "name", canon, "cname", "key", max_dist=1
            ).select("name", "cname").collect())),
            sorted(map(tuple, bfs_hops(edges, srcs, max_hops=3).collect())),
            sorted(map(tuple, snapshot_diff(old, new, ["k"]).select("k", "op").collect())),
        )

    local = run_all()
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "engine_ckpt"))
    try:
        reliable = run_all()
        assert list((tmp_path / "engine_ckpt").rglob("*")), "reliable flavor unused"
    finally:
        _unset_checkpoint_dir(sc)
    assert local == reliable
