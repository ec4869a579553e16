"""K-Means as declarative DataFrame plans — the reference's entire surface.

Reference: Hadoop MR Lloyd's K-Means —
driver loop ``/root/reference/src/KMeans.java``, map-side assignment
``/root/reference/src/MapReduceKMean/PointsMapper.java``, reduce-side mean
``/root/reference/src/MapReduceKMean/PointsReducer.java``.

Physical shape of one Lloyd step as the one-step operators declare it
(``assign``/``centroid_update_wide``/``wssse_per_cluster`` — what Catalyst
plans from these expressions): ``Scan parquet → ArrowEvalPython (the
nearest-centroid kernel) → HashAggregate(partial) → Exchange
hashpartitioning(cluster_id) → HashAggregate(final)`` — exactly the
reference's map → combine → shuffle → reduce pipeline
(``KMeans.java:207-215``). The iterative driver :func:`lloyd` does NOT
re-plan this aggregate per iteration; it runs the same math over numpy
blocks in :func:`fold_loop` (see there for why).

Every assignment — :func:`assign`, the loop's :func:`_block_partials`
and PQ's per-subspace codes — goes through one numpy kernel,
:func:`_nearest`. ``assign`` runs it as a scalar Arrow UDF. The Catalyst
form it replaced, ``transform(centroid literal, c -> aggregate(zip_with
(...)))``, is CodegenFallback: Spark interprets it once per element.
Traced on the perfbench ``lloyd`` input (4k rows, k=10, d=64, 4 vCPU)
it cost 0.14-0.22 s of JVM CPU per assignment, and its 640-double
literal ~0.05 s more plan analysis per query.

The one-step operators and :func:`lloyd` keep two deliberate fixes
documented in SURVEY.md §2.1:

- **R8 combiner weighting bug not replicated**: the reference's combiner
  emits unweighted per-split means, so results depend on task split
  boundaries; Spark's partial/final ``avg`` = sum+count is correctly
  weighted.
- **R3 determinism**: centroid init is ``ORDER BY md5(vec_id) LIMIT k``
  instead of ``Random.nextInt`` rejection sampling
  (``KMeans.java:66-74``) — reproducible and cross-engine checkable.

Scale notes: the per-iteration shuffle carries only k×(d sums + count)
after partial aggregation — independent of input row count, so the plan is
scan-bound at 100 TB. Centroids travel inside the pickled UDF, shipped
with the task binary, never via driver round-trips per task.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial, reduce

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducekmean_spark.functions.hashing import stable_order_key
from mapreducekmean_spark.functions.vector import as_double_array
from mapreducekmean_spark.sources import load_table

from mapreducekmean_spark.session import local_rows_df

#: Fixture ground truth: embeddings carry labels 0..9 (FIXTURES.md).
DEFAULT_K = 10

#: Reference loop bounds: ``KMeans.java:199,201``.
DEFAULT_TOL = 1e-3
DEFAULT_MAX_ITER = 20


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the points table with the feature column cast to
    ``array<double>`` once (R1 scan + R4 typed projection; the reference
    re-parses the same strings at every hop — we parse exactly once)."""
    df = load_table(spark, sf_dir, "embeddings")
    return df.select(
        "vec_id", as_double_array("embedding").alias("emb"), "label"
    )


def deterministic_init(points: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """R3 — k initial centroids, reproducibly: the :func:`md5_seed_rows`
    k-sample, one distributed pass where the reference needs two full
    single-threaded scans (``KMeans.java:33-100``). Output: (cluster_id
    0..k-1, vec_id, emb), cluster index assigned in md5 order so DuckDB
    reproduces it exactly.
    """
    # The 0..k-1 cluster index is assigned driver-side over the k
    # collected rows (an R11-style k-row collect — every consumer
    # collects these centroids anyway, so job count is unchanged). The
    # former partitionless row_number window produced the same result
    # but tripped WindowExec's "No Partition Defined" scale warning on
    # every kmeans job — noise aimed at unbounded inputs, and Catalyst
    # constant-folds away any literal partition spec that would silence
    # it. The returned LocalRelation broadcasts for free in downstream
    # k-row joins (convergence_delta).
    rows = md5_seed_rows(points, k)
    spark = points.sparkSession
    fields = {f.name: f.dataType.simpleString() for f in points.schema.fields}
    return local_rows_df(spark, 
        [(i, r["vec_id"], list(r["emb"])) for i, r in enumerate(rows)],
        f"cluster_id bigint, vec_id {fields['vec_id']}, emb {fields['emb']}",
    )


#: Driver-side memo for the k-row deterministic-init result, keyed by
#: (realpath(sf_dir), k, embeddings.parquet size+mtime). The init is a
#: k-row LocalRelation; every one-step operator that shares an init
#: (assign/update/sizes/wssse/convergence over the same fixture) would
#: otherwise re-run the same TakeOrderedAndProject job per query — an
#: extra ~0.5 s each at bench scale for identical k rows. The stat
#: fingerprint invalidates the memo if the fixture file is regenerated
#: in place.
_INIT_MEMO: dict[tuple, list[tuple[int, object, list[float]]]] = {}


def _fixture_key(sf_dir: str, k: int) -> tuple:
    import os

    path = os.path.join(os.path.realpath(sf_dir), "embeddings.parquet")
    st = os.stat(path)
    return (path, k, st.st_size, st.st_mtime_ns)


def init_rows(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> list[tuple[int, object, list[float]]]:
    """Memoized ``deterministic_init`` rows for a fixture dir: a k-row
    list of (cluster_id, vec_id, emb). First call per (fixture, k) runs
    the one distributed top-k pass; later calls are driver-local."""
    key = _fixture_key(sf_dir, k)
    if key not in _INIT_MEMO:
        rows = deterministic_init(embeddings(spark, sf_dir), k).collect()
        _INIT_MEMO[key] = [
            (r["cluster_id"], r["vec_id"], list(r["emb"])) for r in rows
        ]
    return _INIT_MEMO[key]


def init_df(spark: SparkSession, sf_dir: str, k: int = DEFAULT_K) -> DataFrame:
    """The memoized init as a k-row LocalRelation (no job when memoized)."""
    return local_rows_df(spark, 
        init_rows(spark, sf_dir, k),
        "cluster_id bigint, vec_id bigint, emb array<double>",
    )


def init_centroids(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> list[list[float]]:
    """The memoized init's centroid vectors, ordered by cluster_id."""
    return [emb for _, _, emb in init_rows(spark, sf_dir, k)]


def collect_centroids(init_df: DataFrame) -> list[list[float]]:
    """Collect the k-row init result into a driver-side list ordered by
    cluster_id (R11 collect — k rows, never the data)."""
    rows = init_df.select("cluster_id", "emb").orderBy("cluster_id").collect()
    return [list(r["emb"]) for r in rows]


def _nearest(X, C):
    """The nearest-centroid kernel of every k-means assignment: squared
    L2 from each row of the (n, d) matrix ``X`` to each row of the
    (k, d) matrix ``C``, and each row's nearest index. Returns
    ``(dists (n, k), cluster (n,))``.

    The distance accumulates one dimension at a time (``acc += diff *
    diff``, all k centroids at once on the (n, k) array) — the
    sequential left fold of ``functions/vector.py`` and of the DuckDB
    oracles, so distances are bit-identical to theirs. The argmin is
    first-wins like the strict ``<`` compare at
    ``PointsMapper.java:70-74`` and orders values like Spark's
    ``array_position(dists, array_min(dists))``: NaN is larger than
    ``+inf`` (``inf - inf`` in a coordinate makes one), and a row of
    NaNs goes to index 0.
    """
    import numpy as np

    dists = np.zeros((X.shape[0], C.shape[0]))
    with np.errstate(invalid="ignore", over="ignore"):  # inf/NaN are data
        for d in range(C.shape[1]):
            diff = X[:, d, None] - C[None, :, d]
            dists += diff * diff
    lowest = np.where(np.isnan(dists), np.inf, dists).min(axis=1)
    return dists, np.argmax(dists == lowest[:, None], axis=1)


def assign(points: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """R5+R6 — nearest-centroid assignment (the broadcast nested loop of
    ``PointsMapper.java:59-81``): adds ``dists: array<double>``, squared
    L2 to every centroid, and ``cluster_id``, the first-wins nearest.

    One scalar Arrow UDF (ArrowEvalPython) over :func:`_nearest`: only
    ``emb`` crosses to the Python worker and only the two new columns
    come back; every other column stays on the JVM. The centroids ship
    with the pickled UDF. A row whose ``emb`` is null, holds a null
    element or is not d long gets k null distances and a null
    ``cluster_id`` — what the ``zip_with`` fold of
    ``functions/vector.py`` yields for it."""
    import numpy as np
    from pyspark.sql.functions import arrow_udf

    from mapreducekmean_spark.shipping import ship_package

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape

    def nearest(emb: pa.Array) -> pa.Array:
        import pyarrow.compute as pc

        from mapreducekmean_spark.shipping import drop_nested_zip_importers

        drop_nested_zip_importers()  # cheaper setup for this worker's next task
        n = len(emb)
        ok = pc.fill_null(pc.list_value_length(emb), -1).to_numpy() == dim
        flat = pc.list_flatten(emb)
        rows = pc.list_parent_indices(emb).to_numpy()
        ok[rows[flat.is_null().to_numpy(zero_copy_only=False)]] = False
        X = flat.to_numpy(zero_copy_only=False)[ok[rows]]
        dists = np.zeros((n, k))
        cluster = np.zeros(n, dtype=np.int64)
        dists[ok], cluster[ok] = _nearest(X.reshape(int(ok.sum()), dim), C)
        return pa.StructArray.from_arrays(
            [
                pa.ListArray.from_arrays(
                    pa.array(np.arange(0, n * k + 1, k, dtype=np.int32)),
                    pa.array(dists.ravel(), mask=np.repeat(~ok, k)),
                ),
                pa.array(cluster, mask=~ok),
            ],
            names=["dists", "cluster_id"],
        )

    ship_package(points.sparkSession)  # the UDF pickles _nearest by ref
    udf = arrow_udf(nearest, "struct<dists: array<double>, cluster_id: bigint>")
    return (
        points.withColumn("_nearest", udf(F.col("emb")))
        .withColumns(
            {
                "dists": F.col("_nearest.dists"),
                "cluster_id": F.col("_nearest.cluster_id"),
            }
        )
        .drop("_nearest")
    )


def centroid_update_wide(assigned: DataFrame, dim: int) -> DataFrame:
    """R7-R9 — per-cluster mean as one partial+final HashAggregate.

    One ``avg`` per dimension (d agg expressions over ``element_at``) keeps
    the shuffle payload at k×(d+1) values regardless of input size — the
    correctly-weighted version of the reference's combiner+reducer
    (``PointsReducer.java:17-36``, ``KMeans.java:210``).
    Output: (cluster_id, centroid array<double>, n).
    """
    # One parsed array-of-avgs expression instead of d separate agg
    # columns — identical aggregates, ~200 fewer py4j calls per plan.
    mean_arr = F.expr(
        "array("
        + ",".join(f"avg(element_at(emb, {i + 1}))" for i in range(dim))
        + ")"
    ).alias("centroid")
    return assigned.groupBy("cluster_id").agg(
        mean_arr, F.count("*").alias("n")
    )


def centroid_update_long(assigned: DataFrame, dim: int) -> DataFrame:
    """Oracle-facing long format: (cluster_id, dim, val, n) with ``val``
    rounded to 6 dp (cross-engine float-sum order tolerance, SURVEY §7)."""
    wide = centroid_update_wide(assigned, dim)
    return wide.select(
        "cluster_id",
        F.posexplode("centroid").alias("dim", "val_raw"),
        "n",
    ).select(
        "cluster_id",
        F.col("dim").cast("bigint").alias("dim"),
        F.round("val_raw", 6).alias("val"),
        "n",
    )


def cluster_sizes(assigned: DataFrame) -> DataFrame:
    """R9 count leg — (cluster_id, n)."""
    return assigned.groupBy("cluster_id").agg(F.count("*").alias("n"))


def wssse_per_cluster(assigned: DataFrame) -> DataFrame:
    """Within-cluster sum of squared errors per cluster (model-quality
    metric over the R6 distances), rounded for cross-engine hashing.

    Accepted tolerance: the 6-dp round sits on top of a float sum whose
    partial/final accumulation order differs from a sequential engine's;
    a sum landing within ~1e-16 relative of a 0.5e-6 rounding boundary
    could flip the last digit vs the oracle. Never observed across all
    fixture scales (the per-cluster sums are O(10²) with ~1e-13 absolute
    error); if a future fixture trips it, compare with an epsilon."""
    return (
        assigned.withColumn("min_dist", F.array_min("dists"))
        .groupBy("cluster_id")
        .agg(F.round(F.sum("min_dist"), 6).alias("wssse"), F.count("*").alias("n"))
    )


def convergence_delta(
    new_wide: DataFrame, init_df: DataFrame, tol: float = DEFAULT_TOL
) -> DataFrame:
    """R13 — per-cluster Chebyshev (max per-coordinate abs) movement.

    The reference tests **per-coordinate** absolute movement < tol
    (``KMeans.java:102-111``), not Euclidean distance — preserved here.
    Empty-cluster policy (``KMeans.java:129-144`` semantics): a cluster
    absent from ``new_wide`` keeps its previous centroid → delta 0.
    k-row join; Catalyst broadcasts it.
    """
    old = init_df.select("cluster_id", F.col("emb").alias("old_c"))
    new = new_wide.select("cluster_id", F.col("centroid").alias("new_c"))
    joined = old.join(new, "cluster_id", "left")
    delta = F.when(
        F.col("new_c").isNull(), F.lit(0.0)
    ).otherwise(
        F.array_max(F.zip_with("old_c", "new_c", lambda a, b: F.abs(a - b)))
    )
    return joined.select(
        "cluster_id",
        F.round(delta, 6).alias("delta"),
        (delta < F.lit(tol)).alias("converged"),
    )


@dataclass
class LloydResult:
    centroids: list[list[float]]
    iterations: int
    converged: bool
    history: list[float]  # max per-coord movement per iteration


def lloyd(
    points: DataFrame,
    k: int = DEFAULT_K,
    max_iter: int = DEFAULT_MAX_ITER,
    tol: float = DEFAULT_TOL,
    init_cents: list[list[float]] | None = None,
) -> LloydResult:
    """R14 — the full iterative driver loop, Spark-first.

    Structure mirrors ``KMeans.java:204-234``: one distributed pass per
    iteration (assignment + aggregation; the whole loop is one task when
    ``points`` is one partition), k×d floats back to the driver,
    convergence = every coordinate of every centroid moved < tol
    (``KMeans.java:102-111``). Differences (SURVEY §2.1): correctly
    weighted partial aggregation (R8) and deterministic init (R3).
    Empty clusters keep their previous centroid (``KMeans.java:129-144``).
    The loop itself is :func:`fold_loop`.
    """
    cents = (
        init_cents
        if init_cents is not None
        else collect_centroids(deterministic_init(points, k))
    )
    if len(cents) < k:
        raise ValueError(
            f"k={k} exceeds the {len(cents)} distinct input points; "
            f"reduce k or supply more points"
        )
    import numpy as np

    C, history, converged, it = fold_loop(
        points,
        np.array(cents, dtype=np.float64),
        _block_partials,
        partial(_advance, tol=tol),
        max_iter,
    )
    return LloydResult(C.tolist(), it, converged, history)


def md5_seed_rows(points: DataFrame, k: int) -> list:
    """The k md5-smallest ``(vec_id, emb)`` rows of ``points`` in md5
    order — the deterministic k-sample both k-means and PQ seed from.
    ``orderBy(md5(vec_id)).limit(k)`` plans as TakeOrderedAndProject: a
    per-partition top-k plus a k-row driver merge, one job."""
    return (
        points.select("vec_id", "emb", stable_order_key("vec_id").alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )


def arrow_blocks(batches):
    """Decode ``(vec_id, emb)`` Arrow record batches into ``(ids, X)``
    numpy pairs, skipping empty batches: int64 ids and the batch's flat
    ``list<double>`` buffer reshaped into the (n, d) float64 matrix —
    no per-row Python objects."""
    import numpy as np

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        ids = batch.column(0).to_numpy(zero_copy_only=False)
        ids = np.ascontiguousarray(ids, dtype=np.int64)
        # list<double> → offset-aware flat values → (n, d) matrix
        flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
        yield ids, np.ascontiguousarray(flat, dtype=np.float64).reshape(n, -1)


def _numpy_blocks(points: DataFrame):
    """The hot-loop representation: (ids, X) numpy blocks, one per Arrow
    batch — the same row-major matrix blocking MLlib uses for its Lloyd
    loop.

    The build is columnar end-to-end: ``mapInArrow`` delivers Arrow
    record batches to the Python worker (no per-row Row objects),
    :func:`arrow_blocks` reshapes each into its (n, d) matrix, and each
    block travels back to the RDD side as ONE row holding two binary
    blobs — so the only per-row pickling left is one tuple per ~10k-row
    batch, not one per point. At 100 TB this is the difference between
    an Arrow memcpy pass and paying Python deserialization for every
    input row.
    """

    def pack(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                pa.field("ids", pa.binary()),
                pa.field("xs", pa.binary()),
                pa.field("n", pa.int64()),
                pa.field("d", pa.int64()),
            ]
        )
        for ids, X in arrow_blocks(batches):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([ids.tobytes()], type=pa.binary()),
                    pa.array([X.tobytes()], type=pa.binary()),
                    pa.array([X.shape[0]], type=pa.int64()),
                    pa.array([X.shape[1]], type=pa.int64()),
                ],
                schema=out_schema,
            )

    def unpack(row):
        import numpy as np

        ids = np.frombuffer(row.ids, dtype=np.int64)
        X = np.frombuffer(row.xs, dtype=np.float64).reshape(row.n, row.d)
        return ids, X

    packed = points.select("vec_id", "emb").mapInArrow(
        pack, "ids binary, xs binary, n bigint, d bigint"
    )
    return packed.rdd.map(unpack)


def _block_partials(X, C):
    """Per-block Lloyd partials: (k×d sums, k counts) of the
    :func:`_nearest` assignment of ``X`` against ``C`` — the k-means
    ``partials`` of :func:`fold_loop`, so the loop assigns every point
    where :func:`assign` does."""
    import numpy as np

    k_, dim = C.shape
    a = _nearest(X, C)[1]
    sums = np.zeros((k_, dim))
    counts = np.zeros(k_, dtype=np.int64)
    for j in range(k_):
        m = a == j
        counts[j] = int(m.sum())
        if counts[j]:
            sums[j] = X[m].sum(axis=0)
    return sums, counts


def _advance(C, sums, counts, tol):
    """One centroid update step over any ``(..., d)`` centroid array whose
    leading axes match ``counts``: empty cells keep the previous centroid
    (``KMeans.java:129-144``); movement is the max per-coordinate abs
    delta (``KMeans.java:102-111``), done once it is below ``tol`` — so
    ``tol=0`` never stops early."""
    import numpy as np

    new = C.copy()  # empty clusters keep the previous centroid
    nz = counts > 0
    new[nz] = sums[nz] / counts[nz, None]
    move = float(np.max(np.abs(new - C))) if C.shape[0] else 0.0
    return new, move, move < tol


def _add_partials(x, y):
    return x[0] + y[0], x[1] + y[1]


def _run_loop(reduce_step, state, advance, max_iter):
    """Iterate ``reduce_step`` → ``advance`` up to ``max_iter`` times."""
    history: list[float] = []
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        sums, counts = reduce_step(state)
        state, move, done = advance(state, sums, counts)
        history.append(move)
        if done:
            converged = True
            break
    return state, history, converged, it


def fold_loop(points, state, partials, advance, max_iter):
    """The Lloyd fold driver — the map → combine → reduce iteration of
    ``KMeans.java:204-234`` over the numpy blocks of a ``(vec_id, emb)``
    DataFrame, shared by k-means (:func:`lloyd`) and PQ codebook
    training.

    Each iteration folds ``partials(X, state) -> (sums, counts)`` over
    every block, then ``advance(state, sums, counts) -> (state, move,
    done)``; returns ``(state, history, converged, iterations)`` with
    ``history`` the per-iteration ``move``.

    Why blocks and not the DataFrame agg: the declared one-step
    operators (``assign_nearest``/``centroid_update``) keep the
    declarative plan, but a *driver loop* re-analyzes that plan every
    iteration and pays a job per iteration — measured with the former
    centroid-literal ``assign`` at ~208 ms of Catalyst analysis plus
    ~250 ms interpreted-HOF execution, ≈0.45 s/iter. The numpy
    block path runs the identical math vectorized with zero
    per-iteration planning: ≈0.21 s/iter measured, same assignments (0
    mismatches over 20 iterations at sf0.1).

    Single-task fold: when ``points`` has ONE partition, every
    per-iteration job would be a one-task job whose reduce is just that
    partition's left fold — so the whole loop runs inside the one
    ``mapInArrow`` task that decodes the Arrow batches (same blocks,
    same partials, same fold order → bit-identical state), which sends
    back only the pickled result row. That turns up-to-``max_iter``
    jobs into 1 job with ONE Python worker: every Python worker task
    pays a fixed ~120 ms (measured on 4 vCPUs, Python 3.11) in
    ``setup_spark_files``'s ``importlib.invalidate_caches()``, where
    each zipimporter over ``pyspark.zip`` re-reads the archive
    directory — a cost independent of the task's work (cut for a
    worker's later tasks once :func:`assign` has run in it, see
    ``shipping.drop_nested_zip_importers``).

    Otherwise the blocks are built (:func:`_numpy_blocks`) and cached
    for the loop, and each iteration broadcasts the state and runs one
    ``treeReduce`` of the partials — nothing but the bounded partial
    aggregates crosses the wire, exactly MLlib's ``RDD.treeAggregate``
    strategy. Tree depth is 1 up to 64 partitions and 2 above: a
    depth-2 merge bounds driver fan-in at ~sqrt(P) for the
    1000-executor case; below that one reduce suffices (measured
    equivalent at fixture scale, where the loop is bounded by per-job
    scheduling latency, not by the merge).
    """
    import pickle

    frame = points.select("vec_id", "emb")
    if frame.rdd.getNumPartitions() == 1:

        def run(batches):
            import pyarrow as pa

            Xs = [X for _ids, X in arrow_blocks(batches)]

            def step(st):
                if not Xs:
                    raise ValueError("empty input: no blocks to fold over")
                return reduce(_add_partials, (partials(X, st) for X in Xs))

            out = pickle.dumps(_run_loop(step, state, advance, max_iter))
            yield pa.RecordBatch.from_arrays(
                [pa.array([out], type=pa.binary())], names=["result"]
            )

        row = frame.mapInArrow(run, "result binary").collect()[0]
        return pickle.loads(row.result)

    blocks = _numpy_blocks(frame).cache()
    depth = 1 if blocks.getNumPartitions() <= 64 else 2
    sc = blocks.context

    def step(st):
        bc = sc.broadcast(st)
        try:
            return blocks.map(lambda b: partials(b[1], bc.value)).treeReduce(
                _add_partials, depth=depth
            )
        finally:
            bc.unpersist()

    try:
        return _run_loop(step, state, advance, max_iter)
    finally:
        blocks.unpersist()


def lloyd_assignments(
    spark: SparkSession, sf_dir: str, k: int = DEFAULT_K
) -> DataFrame:
    """End-to-end: run Lloyd's to convergence, return final per-point
    assignments + final centroids in long format (rows-only oracle —
    iterative, not single-statement SQL)."""
    pts = embeddings(spark, sf_dir)
    result = lloyd(pts, k, init_cents=init_centroids(spark, sf_dir, k))
    return assign(pts, result.centroids).select(
        "vec_id",
        "cluster_id",
        F.lit(result.iterations).cast("bigint").alias("iterations"),
        F.lit(result.converged).alias("converged"),
    )
