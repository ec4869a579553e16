"""Algorithmic invariant + parity tests for the K-Means operators
(SURVEY.md §5 items 3-5)."""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from mapreducekmean_spark.operators import kmeans as km

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "kmeans_sf0001.json")


@pytest.fixture(scope="module")
def points(spark, sf_small):
    pts = km.embeddings(spark, sf_small).cache()
    yield pts
    pts.unpersist()


def _wssse_total(pts, cents) -> float:
    assigned = km.assign(pts, cents)
    row = assigned.agg(F.sum(F.array_min("dists")).alias("w")).collect()[0]
    return float(row["w"])


def test_centroid_is_weighted_mean(spark, points):
    """Per-cluster centroid equals the mean of its members — i.e. the R8
    combiner weighting bug is NOT replicated (SURVEY §2.1)."""
    cents = km.collect_centroids(km.deterministic_init(points, 4))
    assigned = km.assign(points, cents)
    wide = {
        int(r["cluster_id"]): (list(r["centroid"]), int(r["n"]))
        for r in km.centroid_update_wide(assigned, 64).collect()
    }
    rows = assigned.select("cluster_id", "emb").collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(int(r["cluster_id"]), []).append(list(r["emb"]))
    for cid, (centroid, n) in wide.items():
        members = by_cluster[cid]
        assert n == len(members)
        for d in range(64):
            expect = sum(m[d] for m in members) / n
            assert math.isclose(centroid[d], expect, rel_tol=1e-9)


def test_wssse_non_increasing(points):
    """Lloyd's monotonicity: WSSSE never increases across iterations."""
    result = km.lloyd(points, k=10, max_iter=6, tol=0.0)
    cents = km.collect_centroids(km.deterministic_init(points, 10))
    wssses = [_wssse_total(points, cents)]
    # replay the loop step by step
    for _ in range(4):
        wide = km.centroid_update_wide(km.assign(points, cents), 64)
        got = {int(r["cluster_id"]): list(r["centroid"]) for r in wide.collect()}
        cents = [got.get(i, cents[i]) for i in range(10)]
        wssses.append(_wssse_total(points, cents))
    assert all(b <= a + 1e-9 for a, b in zip(wssses, wssses[1:])), wssses
    assert result.iterations >= 1


def test_assignment_idempotent_at_convergence(points):
    result = km.lloyd(points, k=10)
    assert result.converged
    wide = km.centroid_update_wide(km.assign(points, result.centroids), 64)
    got = {int(r["cluster_id"]): list(r["centroid"]) for r in wide.collect()}
    new = [got.get(i, result.centroids[i]) for i in range(10)]
    move = max(
        abs(a - b)
        for oc, nc in zip(result.centroids, new)
        for a, b in zip(oc, nc)
    )
    assert move < km.DEFAULT_TOL


def test_empty_cluster_keeps_previous_centroid(spark):
    """Reference semantics KMeans.java:129-144: a cluster that attracts no
    points keeps its previous centroid, never NaN (SURVEY §2.1)."""
    df = spark.createDataFrame(
        [(i, [float(i % 2), 0.0]) for i in range(10)], "vec_id long, emb array<double>"
    )
    # far-away third centroid attracts nothing
    cents = [[0.0, 0.0], [1.0, 0.0], [1e6, 1e6]]
    wide = km.centroid_update_wide(km.assign(df, cents), 2)
    got = {int(r["cluster_id"]): list(r["centroid"]) for r in wide.collect()}
    new = [got.get(i, cents[i]) for i in range(3)]
    assert new[2] == [1e6, 1e6]
    assert not any(math.isnan(v) for c in new for v in c)


@pytest.mark.parametrize("kernel", ["kmeans", "pq"])
def test_fold_loop_multi_partition_matches_single_task(points, kernel):
    """``fold_loop``'s distributed branch (cached blocks, broadcast
    state, per-iteration treeReduce) folds the same partials in the same
    order as its single-task branch: with one block per partition, the
    state, history and iteration count are identical."""
    from functools import partial

    import numpy as np

    from mapreducekmean_spark.operators import pq

    if kernel == "kmeans":
        cents = km.collect_centroids(km.deterministic_init(points, 10))
        state = np.array(cents, dtype=np.float64)
        partials, advance = km._block_partials, partial(km._advance, tol=1e-3)
    else:
        state = np.asarray(pq.train_pq_codebooks(points, 64, iters=0))
        partials, advance = pq._pq_block_partials, partial(km._advance, tol=0.0)
    blocks = km._numpy_blocks(points.repartition(3, "vec_id")).cache()
    try:
        assert blocks.getNumPartitions() == 3
        multi = km.fold_loop(blocks, state, partials, advance, 6)
        single = km.fold_loop(blocks.coalesce(1), state, partials, advance, 6)
    finally:
        blocks.unpersist()
    assert multi[3] >= 1 and len(multi[1]) == multi[3]
    assert multi[1:] == single[1:]
    assert np.array_equal(multi[0], single[0])


def test_golden_centroids_sf0001(points):
    """Seeded/deterministic run frozen into a golden file (SURVEY §5.5)."""
    result = km.lloyd(points, k=10)
    got = {
        "iterations": result.iterations,
        "converged": result.converged,
        "centroids": [[round(v, 6) for v in c] for c in result.centroids],
    }
    if not os.path.exists(GOLDEN):
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
        pytest.skip("golden file created; rerun to compare")
    with open(GOLDEN) as f:
        want = json.load(f)
    assert got["iterations"] == want["iterations"]
    assert got["converged"] == want["converged"]
    for gc, wc in zip(got["centroids"], want["centroids"]):
        for a, b in zip(gc, wc):
            assert abs(a - b) <= 2e-6


def test_mllib_matches_label_structure(spark, sf_small):
    """MLlib path: k=10 fit recovers 10 non-empty clusters."""
    from mapreducekmean_spark.operators.mllib import (
        HAVE_MLLIB,
        mllib_assignments,
    )

    if not HAVE_MLLIB:
        pytest.skip("pyspark.ml unavailable")
    pred = mllib_assignments(spark, sf_small)
    sizes = pred.groupBy("cluster_id").count().collect()
    assert len(sizes) == 10
    assert pred.count() == 500


def test_points_csv_safe_parse(spark, tmp_path):
    """Reference-native CSV source: malformed lines are filtered, not
    task-killing (PointsMapper.java:61-63 crash semantics replaced)."""
    from mapreducekmean_spark.sources import read_points_csv

    p = tmp_path / "points.csv"
    p.write_text("1.0,2.0\nbad,line\n3.5,4.5\n,\n5.0,6.0\n")
    df = read_points_csv(spark, str(p))
    rows = sorted((r["x"], r["y"]) for r in df.collect())
    assert rows == [(1.0, 2.0), (3.5, 4.5), (5.0, 6.0)]


GOLDEN_SF001 = os.path.join(
    os.path.dirname(__file__), "golden", "kmeans_sf001.json"
)


def test_golden_centroids_sf001(spark, sf_oracle):
    """Second golden at the driver's correctness scale factor (sf0.01):
    protects the rows-only kmeans_full path against silent drift at the
    exact size the driver exercises."""
    pts = km.embeddings(spark, sf_oracle).cache()
    try:
        result = km.lloyd(pts, k=10)
    finally:
        pts.unpersist()
    got = {
        "iterations": result.iterations,
        "converged": result.converged,
        "centroids": [[round(v, 6) for v in c] for c in result.centroids],
    }
    if not os.path.exists(GOLDEN_SF001):
        with open(GOLDEN_SF001, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
        pytest.skip("golden file created; rerun to compare")
    with open(GOLDEN_SF001) as f:
        want = json.load(f)
    assert got["iterations"] == want["iterations"]
    assert got["converged"] == want["converged"]
    for gc, wc in zip(got["centroids"], want["centroids"]):
        for a, b in zip(gc, wc):
            assert abs(a - b) <= 2e-6
