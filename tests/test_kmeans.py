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
def test_fold_loop_multi_partition_matches_single_task(spark, points, kernel):
    """Both branches of ``fold_loop`` — the distributed one (cached
    blocks, broadcast state, per-iteration treeReduce) on a 3-partition
    frame with one block per partition, and the fused single-task
    ``mapInArrow`` on one partition of several Arrow batches — equal
    ``_run_loop`` folded driver-side over the same blocks in partition
    order: state, history and iteration count identical."""
    from functools import partial, reduce

    import numpy as np

    from mapreducekmean_spark.operators import pq

    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch_old = spark.conf.get(batch_conf)
    # The fixture's float32 values sum exactly in double in any order;
    # a third of them has full-width mantissas, so fold order shows.
    frame = points.select(
        "vec_id", F.expr("transform(emb, x -> x / 3)").alias("emb")
    ).repartition(3, "vec_id").cache()
    try:
        if kernel == "kmeans":
            cents = km.collect_centroids(km.deterministic_init(frame, 10))
            state = np.array(cents, dtype=np.float64)
            partials = km._block_partials
            advance = partial(km._advance, tol=1e-3)
        else:
            state = np.asarray(pq.train_pq_codebooks(frame, 64, iters=0))
            partials = pq._pq_block_partials
            advance = partial(km._advance, tol=0.0)
        assert frame.rdd.getNumPartitions() == 3
        for part, batch in ((frame, batch_old), (frame.coalesce(1), "128")):
            spark.conf.set(batch_conf, batch)
            Xs = [X for _ids, X in km._numpy_blocks(part).collect()]
            assert len(Xs) >= 3

            def step(st, Xs=Xs):
                return reduce(km._add_partials, (partials(X, st) for X in Xs))

            want = km._run_loop(step, state, advance, 6)
            got = km.fold_loop(part, state, partials, advance, 6)
            assert got[3] >= 1 and len(got[1]) == got[3]
            assert got[1:] == want[1:]
            assert np.array_equal(got[0], want[0])
    finally:
        spark.conf.set(batch_conf, batch_old)
        frame.unpersist()


def _loop_partials(X, C):
    """Reference for ``_block_partials``: one centroid at a time, one
    dimension at a time, per-point Python argmin with strict ``<``."""
    import numpy as np

    dists = np.zeros((X.shape[0], C.shape[0]))
    for j in range(C.shape[0]):
        for d in range(C.shape[1]):
            diff = X[:, d] - C[j, d]
            dists[:, j] += diff * diff
    a = []
    for row in dists:
        best = 0
        for j in range(1, len(row)):
            if row[j] < row[best]:
                best = j
        a.append(best)
    a = np.array(a)
    sums = np.array([X[a == j].sum(axis=0) for j in range(C.shape[0])])
    return sums, np.bincount(a, minlength=C.shape[0])


def test_block_partials_match_loop_and_assign(spark):
    """``_block_partials`` (the (n, k) vectorized kernel) equals the
    per-centroid loop exactly, and counts what ``cluster_sizes(assign(
    ...))`` counts, including a point at an exact tie between centroids
    0 and 1, which goes to centroid 0 (the strict ``<`` first-wins of
    ``PointsMapper.java:70-74``)."""
    import numpy as np

    pts = [[0.0, 0.0], [2.0, 0.0], [1.0, 0.0], [5.0, 5.0]]  # [1, 0] ties
    cents = [[0.0, 0.0], [2.0, 0.0], [10.0, 10.0]]
    X, C = np.array(pts), np.array(cents)
    sums, counts = km._block_partials(X, C)
    df = spark.createDataFrame(
        list(enumerate(pts)), "vec_id bigint, emb array<double>"
    )
    sizes = dict(km.cluster_sizes(km.assign(df, cents)).collect())
    assert counts.tolist() == [sizes.get(j, 0) for j in range(len(cents))]
    assert counts.tolist() == [2, 2, 0]
    assert sums.tolist() == [[1.0, 0.0], [7.0, 5.0], [0.0, 0.0]]

    rng = np.random.default_rng(7)
    for X, C in [(X, C), (rng.normal(size=(300, 16)), rng.normal(size=(7, 16)))]:
        got, want = km._block_partials(X, C), _loop_partials(X, C)
        assert np.array_equal(got[0], want[0])
        assert np.array_equal(got[1], want[1])


def _lambda_assign(points, cents):
    """The Catalyst form ``assign`` had before its numpy kernel: the
    centroid literal, one ``aggregate(zip_with(...))`` fold per centroid
    and ``array_position(dists, array_min(dists)) - 1``."""
    from mapreducekmean_spark.functions.vector import (
        argmin_index,
        centroid_literal_sql,
    )

    return points.withColumn(
        "dists",
        F.expr(
            f"transform({centroid_literal_sql(cents)}, c -> aggregate("
            "zip_with(emb, c, (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, v) -> acc + v))"
        ),
    ).withColumn("cluster_id", argmin_index(F.col("dists")))


def _nan_key(v):
    """A value that compares NaN equal to NaN, recursively."""
    if isinstance(v, list):
        return [_nan_key(x) for x in v]
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def test_assign_matches_lambda_reference(spark):
    """``assign`` (one Arrow UDF over ``_nearest``) returns exactly the
    lambda form's ``dists`` and ``cluster_id``: random points, an exact
    tie, null/short/null-element embeddings (k null distances, null
    cluster), an infinite coordinate and a NaN centroid component."""
    import numpy as np

    rng = np.random.default_rng(11)
    inf, nan = float("inf"), float("nan")
    odd = [[1.0, 0.0], None, [1.0], [1.0, None], [inf, 0.0], [0.0, 0.0]]
    cases = [
        (rng.normal(size=(300, 16)).tolist(), rng.normal(size=(7, 16)).tolist()),
        (odd, [[0.0, 0.0], [2.0, 0.0], [10.0, 10.0]]),  # [1, 0] ties 0 and 1
        (odd, [[nan, 0.0], [5.0, 0.0]]),
        (odd, [[inf, 0.0], [5.0, 0.0]]),
    ]
    for pts, cents in cases:
        df = spark.createDataFrame(
            list(enumerate(pts)), "vec_id bigint, emb array<double>"
        )

        def rows(frame):
            return [
                (r.vec_id, _nan_key(r.dists), r.cluster_id)
                for r in frame.orderBy("vec_id").collect()
            ]

        got, want = rows(km.assign(df, cents)), rows(_lambda_assign(df, cents))
        assert got == want
    assert [r[2] for r in got] == [1, None, None, None, 1, 1]
    assert got[1][1] == [None, None]


@pytest.mark.parametrize("c0", [float("nan"), float("inf")])
def test_nan_distance_assigns_like_assign(spark, c0):
    """A NaN distance (a NaN centroid component, or ``inf - inf``) orders
    above ``+inf`` in the Lloyd loop and in PQ codes, as in ``assign``'s
    ``array_min``: every point here goes to centroid 1."""
    import numpy as np

    from mapreducekmean_spark.operators import pq

    pts = [[0.0, 0.0], [1.0, 0.0], [float("inf"), 0.0]]
    df = spark.createDataFrame(
        list(enumerate(pts)), "vec_id bigint, emb array<double>"
    )
    cents = [[c0, 0.0], [5.0, 0.0]]
    sizes = dict(km.cluster_sizes(km.assign(df, cents)).collect())
    assert sizes == {1: 3}
    X, C = np.array(pts), np.array(cents)
    assert km._block_partials(X, C)[1].tolist() == [0, 3]
    assert pq._codes_np(X, C[None]).ravel().tolist() == [1, 1, 1]


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
