"""Similarity search over the embeddings table: brute-force cosine top-k
(the exactness baseline), IVF cell-probe ANN (the scale path), and
deterministic random-hyperplane LSH for embedding near-dup detection.

All distance math reuses the sequential-fold kernels from
``functions/vector.py`` (bit-identical to the DuckDB oracles); the IVF
coarse quantizer reuses the deterministic K-Means init
(``operators/kmeans.py``), so even the ANN index is oracle-reproducible.

Scale design:
- Brute force is O(n·q): fine for a query batch against a broadcast side,
  wrong as n grows — it exists as the recall-1.0 baseline.
- IVF: points are bucketed once by nearest coarse centroid (the K-Means
  ``assign``: one Arrow UDF over the shared numpy kernel, no shuffle);
  each query probes ``nprobe`` cells, so the candidate join touches
  ~nprobe/k of the data instead of all of it. At 100 TB the cell id
  becomes a partition column and probing is partition pruning.
- Hyperplane LSH: 16 deterministic md5-seeded sign projections per
  vector → bucket join on uniform keys, O(n) near-dup blocking.

Every ANN and retrieval query (here, in ``pq.py`` and in ``search.py``)
ends in the same tail: score candidate pairs, then keep each query's
best k with :func:`top_k_per_query` — the one per-query rank cut. The
cosine paths share :func:`_sim_topk` on top of it.

The IVF cell store (``cells/cell=<id>/`` directories plus the
``centroids`` table) is owned here, for the raw index and IVF-PQ
alike: :func:`_bucket` tags points with their cell, and
:func:`_land_cells`, :func:`_append_cells` and :func:`_rebalance_cells`
hold the one land, append and rebalance, all writing through
:func:`_write_cells`. A store whose rows are not raw vectors passes an
``encode(cells, cents)`` step — IVF-PQ's residual encode
(``pq._encode_cells``) is the only one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducekmean_spark.functions.vector import cosine_sim
from mapreducekmean_spark.operators import kmeans as km

from mapreducekmean_spark.session import local_rows_df

#: Number of query vectors (lowest vec_ids) in the demo top-k queries.
N_QUERIES = 10
TOP_K = 5


#: Semantic-dedup cosine threshold (slightly below NEAR_DUP_TAU so the
#: within-cell pair set is non-trivial on the near-random fixture).
SEM_DUP_TAU = 0.30


#: Per-cell row bound for semantic_dedup: within-cell work is n_cell², so
#: Σ n_cell² is linear in n only while k tracks n and cells stay roughly
#: this size. 100k rows ≈ 10^10 pair-dims per cell — the most one
#: applyInPandas task should ever score.
SEM_DUP_MAX_CELL = 100_000
#: IVF probe count.
N_PROBE = 2
#: Embedding near-dup cosine threshold (fixture embeddings are near-random;
#: max pairwise cosine ≈ 0.48, so 0.35 yields a real-but-small pair set).
NEAR_DUP_TAU = 0.35
#: Hyperplane LSH signature width.
N_PLANES = 16
#: Driver-collect bound for the brute-force near-dup baseline: beyond
#: this the broadcast contract is void and the LSH/IVF paths apply.
#: 2M rows × 64 dims × 8 B ≈ 1 GiB broadcast — the practical ceiling.
NEAR_DUP_MAX_ROWS = 2_000_000


def _queries_and_points(spark: SparkSession, sf_dir: str):
    pts = km.embeddings(spark, sf_dir).select("vec_id", "emb")
    qs = pts.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("q_emb")
    )
    return qs, pts


def cosine_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query batch against every
    point, rank per query (sim desc, neighbor tie-break). Recall-1.0
    baseline for the ANN paths."""
    qs, pts = _queries_and_points(spark, sf_dir)
    joined = pts.join(F.broadcast(qs), F.col("vec_id") != F.col("q_id"))
    sim = cosine_sim(F.col("q_emb"), F.col("emb"))
    return _sim_topk(joined.withColumn("sim_raw", sim), k)


def top_k_per_query(scored: DataFrame, k: int, *order) -> DataFrame:
    """The per-query rank cut every ANN and retrieval query ends with:
    ``rank`` = 1-based ``row_number`` (bigint) over ``q_id`` partitions
    in ``order``, rows with ``rank <= k`` kept. ``order`` must be total
    within a query (an id tie-break last) so the cut is deterministic.
    Callers project their own output columns."""
    w = Window.partitionBy("q_id").orderBy(*order)
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def _sim_topk(scored: DataFrame, k: int) -> DataFrame:
    """Cosine top-k over ``(q_id, vec_id, sim_raw)`` pairs — sim desc,
    neighbor-id tie-break — as ``(q_id, neighbor_id, rank, sim)`` with
    sim rounded 6 dp: the output of every cosine ANN path."""
    return top_k_per_query(
        scored, k, F.col("sim_raw").desc(), F.col("vec_id").asc()
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        "rank",
        F.round("sim_raw", 6).alias("sim"),
    )


def _bucket(pts: DataFrame, cents: list[list[float]]) -> DataFrame:
    """``(vec_id, emb, cell)``: every point tagged with its nearest
    centroid's index (``km.assign``'s first-wins argmin) — the coarse
    quantization behind every cell-store write and in-session probe."""
    return km.assign(pts, cents).select(
        "vec_id", "emb", F.col("cluster_id").alias("cell")
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    nprobe: int = N_PROBE,
    ncells: int = km.DEFAULT_K,
) -> DataFrame:
    """IVF cell-probe ANN: coarse-quantize all points to their nearest
    deterministic-init centroid, probe each query's ``nprobe`` nearest
    cells, brute-force only within those cells."""
    qs, pts = _queries_and_points(spark, sf_dir)
    cents = km.init_centroids(spark, sf_dir, ncells)
    q_cells = _probe_cells(qs, cents, ncells, nprobe)
    return _score_probed_cells(_bucket(pts, cents), q_cells, k)


def _probe_cells(
    qs: DataFrame,
    cents: list[list[float]],
    ncells: int,
    nprobe: int,
    with_rank: bool = False,
) -> DataFrame:
    """query → its ``nprobe`` nearest cells (same distance kernel as the
    corpus assignment, tiny side): (q_id, q_emb, cell). Shared by the
    in-session IVF path and the landed-index path — one copy of the
    probe logic, same lesson as ``dedup.score_candidate_pairs``.
    ``with_rank=True`` additionally carries the 0-based probe rank
    (how-manyth-nearest cell this is for the query), which makes an
    nprobe curve a set of PREFIX CUTS over one max-nprobe pass."""
    return (
        km.assign(
            qs.select(
                F.col("q_id").alias("vec_id"), F.col("q_emb").alias("emb")
            ),
            cents,
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("q_emb"),
            F.posexplode(
                F.slice(
                    F.array_sort(
                        F.zip_with(
                            F.col("dists"),
                            F.sequence(F.lit(0), F.lit(ncells - 1)),
                            lambda d, i: F.struct(
                                d.alias("dist"),
                                i.cast("bigint").alias("cell"),
                            ),
                        )
                    ),
                    1,
                    nprobe,
                )
            ).alias("probe_rank", "cell_struct"),
        )
        .select(
            "q_id",
            "q_emb",
            F.col("cell_struct.cell").alias("cell"),
            *(
                [F.col("probe_rank").cast("bigint").alias("probe_rank")]
                if with_rank
                else []
            ),
        )
    )


def _score_candidates(cands: DataFrame, extra: tuple = ()) -> DataFrame:
    """The vectorized exact-cosine scoring kernel shared by the probed
    IVF paths: Arrow-batched numpy, accumulating dot and both squared
    norms SEQUENTIALLY over dimensions (one fused multiply-add per dim
    across the batch) so every pair performs the identical IEEE
    operation sequence as the ``functions/vector.py`` fold —
    bit-identical results, ~2 orders of magnitude faster than the
    interpreted HOF on a hot cell (measured in _score_probed_cells'
    docstring). ``extra`` names bigint columns carried through
    untouched (e.g. the probe rank for prefix-cut recall curves) —
    per-row results are independent of batching, so passthrough
    columns cannot perturb the arithmetic."""

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.vstack(pdf["q_emb"].to_numpy())
            E = np.vstack(pdf["emb"].to_numpy())
            dots = np.zeros(len(pdf))
            qss = np.zeros(len(pdf))
            ess = np.zeros(len(pdf))
            for d in range(Q.shape[1]):
                dots = dots + Q[:, d] * E[:, d]
                qss = qss + Q[:, d] * Q[:, d]
                ess = ess + E[:, d] * E[:, d]
            sims = dots / (np.sqrt(qss) * np.sqrt(ess))
            out = {"q_id": pdf["q_id"], "vec_id": pdf["vec_id"]}
            for c in extra:
                out[c] = pdf[c]
            out["sim_raw"] = sims
            yield pd.DataFrame(out)

    schema = (
        "q_id bigint, vec_id bigint"
        + "".join(f", {c} bigint" for c in extra)
        + ", sim_raw double"
    )
    return cands.select("q_id", "vec_id", *extra, "q_emb", "emb").mapInPandas(
        score, schema
    )


def _score_probed_cells(
    cells: DataFrame, q_cells: DataFrame, k: int
) -> DataFrame:
    """Exact cosine scoring + per-query top-k over the probed cells —
    the shared tail of both IVF paths.

    Scoring is a vectorized Arrow-batched pass, NOT the interpreted
    ``cosine_sim`` HOF: a hot cell lands on one task (the cells table
    is one file per cell by layout), and an interpreted fold there was
    measured at ~100 s for a 24-query batch against a 272k-row cell at
    500k corpus — the straggler WAS the query time. The numpy kernel
    accumulates dot and both squared norms **sequentially over
    dimensions** (one fused multiply-add per dim across the batch), so
    every pair performs the identical IEEE operation sequence as the
    ``functions/vector.py`` fold — bit-identical results (the
    ``embedding_near_dup`` discipline), ~2 orders of magnitude faster.
    """

    cands = cells.join(F.broadcast(q_cells), "cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    return _sim_topk(_score_candidates(cands), k)


def _score_probed_cells_bc(
    cells: DataFrame, q_cells: DataFrame, k: int
) -> DataFrame:
    """:func:`_score_probed_cells` with the QUERY side broadcast as a
    plain dict instead of joined: the join tail ships ``q_emb`` per
    candidate PAIR through Arrow, so a hot cell probed by most of the
    batch moves |cell| × n_queries × d doubles on one task — measured
    as the 37-of-101-second residue of the 24-query batch at 500k
    (SCALE.md). Here the bounded probe frame collects driver-side
    (n_queries × nprobe rows — the same bounded class as the probe-cell
    literal), per-cell query matrices broadcast, and one ``mapInPandas``
    pass over the CELLS ROWS ONLY expands pairs inside numpy (outer
    products over the dimension loop) — Arrow volume is the corpus
    slice, never the pair set. Same sequential-dimension fold, same
    pair set, same tie-breaks: results are bit-identical to the join
    tail (pinned in tests/test_similarity_indexed.py).

    Use this for bounded query batches (the serving path); the join
    tail remains for the DPP variant, whose partition pruning IS the
    join."""
    import numpy as np

    spark = cells.sparkSession
    by_cell: dict[int, list] = {}
    for r in q_cells.collect():  # bounded: n_queries × nprobe
        by_cell.setdefault(int(r.cell), []).append(
            (int(r.q_id), list(r.q_emb))
        )
    prep = {}
    for cell, lst in by_cell.items():
        qids = np.array([q for q, _ in lst], dtype=np.int64)
        Q = np.array([v for _, v in lst], dtype=np.float64)
        qss = np.zeros(len(lst))
        for d in range(Q.shape[1]):
            qss = qss + Q[:, d] * Q[:, d]
        prep[cell] = (qids, Q, np.sqrt(qss))
    bc = spark.sparkContext.broadcast(prep)

    def score(batches):
        import numpy as np
        import pandas as pd

        pr = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for cell, grp in pdf.groupby("cell"):
                got = pr.get(int(cell))
                if got is None:
                    continue
                qids, Q, qn = got
                vids = grp["vec_id"].to_numpy(dtype=np.int64)
                E = np.vstack(grp["emb"].to_numpy())
                ess = np.zeros(len(grp))
                dots = np.zeros((len(qids), len(grp)))
                for d in range(E.shape[1]):
                    ess = ess + E[:, d] * E[:, d]
                    dots = dots + np.multiply.outer(Q[:, d], E[:, d])
                sims = dots / np.multiply.outer(qn, np.sqrt(ess))
                ia, ib = np.nonzero(qids[:, None] != vids[None, :])
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": qids[ia],
                            "vec_id": vids[ib],
                            "sim_raw": sims[ia, ib],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = cells.select(
        "vec_id", "emb", F.col("cell").cast("bigint").alias("cell")
    ).mapInPandas(score, "q_id bigint, vec_id bigint, sim_raw double")
    return _sim_topk(scored, k)


def land_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    ncells: int = km.DEFAULT_K,
) -> None:
    """Persist the IVF index: the coarse-quantized corpus laid out as
    ``cell=<id>`` partition DIRECTORIES plus the tiny centroid table —
    the vector-store layout where ``nprobe`` has a physical meaning.

    Partitioning (not bucketing) is the right layout here because the
    query side selects cells by VALUE: a query that probes 2 of k cells
    opens exactly 2 directories and never touches the rest
    (``PartitionFilters`` on the scan, pinned in tests/test_plans.py) —
    partition pruning IS nprobe, enforced by the storage layout instead
    of a runtime filter over a full scan. At 100 TB with k sized so
    cells hold ~constant rows, per-query read volume is
    nprobe/ncells of the corpus regardless of corpus growth. The same
    landed-index economics as ``search.land_bm25_index`` (term-bucketed
    postings) and ``incremental.land_dedup_index`` (band-bucketed
    signatures): pay the layout shuffle once at build, make every query
    after it partial-read."""
    land_ivf_index_points(
        spark,
        km.embeddings(spark, sf_dir).select("vec_id", "emb"),
        path,
        ncells,
    )


def land_ivf_index_points(
    spark: SparkSession,
    pts: DataFrame,
    path: str,
    ncells: int = km.DEFAULT_K,
    cents: list[list[float]] | None = None,
    train_iters: int = 0,
) -> None:
    """:func:`land_ivf_index` over an explicit ``(vec_id, emb)`` frame —
    the composable form an ingest pipeline feeds batch by batch.
    ``cents`` pins an externally-chosen frozen quantizer (e.g. to
    rebuild an appended index under ITS centroids for an equivalence
    check); default is the deterministic k-sample over ``pts``.

    ``train_iters`` > 0 refines the quantizer with that many Lloyd
    passes (``kmeans.lloyd`` over the ``kmeans.fold_loop`` driver) before
    assignment. A raw k-sample Voronoi is fine on near-uniform
    fixtures, but real embedding corpora CLUSTER — untrained cells go
    badly skewed, and a skewed cell both breaks the nprobe/ncells
    read-volume bound (one hot cell holds a corpus fraction ≫ 1/k)
    and hurts recall (probe budget spent on one huge region). Training
    is a land-time-only cost; append/query paths freeze whatever
    quantizer the land chose."""
    _land_cells(spark, pts, path, ncells, cents, train_iters)


def _write_cells(
    path: str,
    cells: DataFrame,
    cents: list[list[float]],
    encode=None,
    mode: str = "append",
) -> None:
    """The one cells-table write: ``(vec_id, emb, cell)`` rows, passed
    through ``encode(cells, cents)`` when the store keeps another row
    format, land in their ``cell=`` directories under ``path``."""
    from mapreducekmean_spark.sources.bucketing import write_partitioned

    if encode is not None:
        cells = encode(cells, cents)
    # repartition ON THE PARTITION KEY before the write: the input's
    # own partitioning is whatever the caller produced (a 1-partition
    # frame would serialize the whole land on one core — measured 259 s
    # vs 36 s at 500k in the round-7 retrieval probe), and hashing by
    # cell puts each cell in exactly one task, so every land/append
    # emits exactly ONE file per touched cell — the append-friendly
    # grain the compactor restores
    write_partitioned(
        cells.repartition("cell"), f"{path}/cells", "cell", mode=mode
    )


def _land_cells(
    spark: SparkSession,
    pts: DataFrame,
    path: str,
    ncells: int,
    cents: list[list[float]] | None,
    train_iters: int,
    encode=None,
) -> None:
    """The cell-store land behind :func:`land_ivf_index_points` and
    ``pq.land_ivfpq_index_points``: pick the coarse quantizer (given,
    Lloyd-trained or the deterministic k-sample), write the bucketed
    cells, then the centroid table."""
    if cents is None:
        if train_iters > 0:
            cents = km.lloyd(pts, ncells, max_iter=train_iters).centroids
        else:
            cents = km.collect_centroids(km.deterministic_init(pts, ncells))
    _write_cells(path, _bucket(pts, cents), cents, encode, mode="overwrite")
    # consumers gate on the centroid table's existence
    # (semantic_dedup_batch's first-batch land), so it lands after the
    # cells
    save_index_centroids(spark, path, cents)


def swap_table(
    spark: SparkSession, path: str, name: str, rows: list, schema: str
) -> None:
    """Land a small driver-built table at ``{path}/{name}`` by temp dir +
    rename — the write of every index parameter table (centroids, PQ
    codebooks). Consumers gate on the table's EXISTENCE, so a crash
    mid-write must leave it absent (replay re-lands), never
    present-but-torn (replay would skip the land and a stream wedges).
    A crash inside the rename window (old table removed, new one still
    at its temp name) is completed by :func:`complete_swap` on load."""
    import os
    import shutil

    tmp = f"{path}/_{name}_new"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        local_rows_df(spark, rows, schema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    shutil.rmtree(f"{path}/{name}", ignore_errors=True)
    os.rename(tmp, f"{path}/{name}")


def complete_swap(path: str, name: str) -> str:
    """Finish a :func:`swap_table` that crashed inside its rename window
    (table absent, finished temp copy present) and return the table's
    path."""
    import os

    final, tmp = f"{path}/{name}", f"{path}/_{name}_new"
    if not os.path.exists(final) and os.path.exists(tmp):
        os.rename(tmp, final)
    return final


def save_index_centroids(
    spark: SparkSession, path: str, cents: list[list[float]]
) -> None:
    """Write the coarse quantizer's ``centroids`` table (cell-ordered)
    through :func:`swap_table` — the inverse of
    :func:`load_index_centroids`."""
    swap_table(
        spark,
        path,
        "centroids",
        [(i, [float(v) for v in c]) for i, c in enumerate(cents)],
        "cell bigint, centroid array<double>",
    )


def append_ivf_index(
    spark: SparkSession, new_points: DataFrame, path: str
) -> None:
    """Grow the landed IVF index by one batch of vectors: quantize the
    batch against the index's FROZEN centroids (the standard
    vector-store contract — the coarse quantizer retrains on a
    schedule, not per insert; re-deriving centroids per batch would
    silently re-cell the whole corpus) and append the rows into their
    ``cell=`` partition directories. PRECONDITION: new vec_ids only,
    monotone across batches. Queries against the appended index equal
    a one-shot scoring of the union under the same centroids (pinned
    in tests/test_similarity_indexed.py).

    Replay-safe (same discipline as ``search.append_bm25_index``): the
    batch's max vec_id is quantized DRIVER-side to its one cell, and
    that single ``cell=`` directory is probed for the row — present
    means a prior attempt's append completed and the replay is a
    no-op. The probe reads one partition directory, never the index."""
    _append_cells(spark, new_points, path, load_index_centroids(spark, path))


def _append_cells(
    spark: SparkSession,
    new_points: DataFrame,
    path: str,
    cents: list[list[float]],
    encode=None,
) -> None:
    """The cell-store append behind :func:`append_ivf_index` and
    ``pq.append_ivfpq_index`` (replay guard in the former's docstring):
    the batch, bucketed under the store's frozen ``cents``, is appended
    unless it is empty or a replay."""
    head = (
        new_points.select("vec_id", "emb")
        .orderBy(F.col("vec_id").desc())
        .take(1)
    )
    if not head:
        return  # nothing to append
    import numpy as np

    max_id = int(head[0]["vec_id"])
    # km.assign's kernel, so the probe looks in the cell the append writes
    emb = np.array([head[0]["emb"]], dtype=np.float64)
    max_cell = int(km._nearest(emb, np.asarray(cents))[1][0])
    if (
        spark.read.parquet(f"{path}/cells")
        .filter((F.col("cell") == max_cell) & (F.col("vec_id") == max_id))
        .take(1)
    ):
        return  # replay of a completed batch
    _write_cells(
        path, _bucket(new_points.select("vec_id", "emb"), cents), cents, encode
    )


def load_index_centroids(
    spark: SparkSession, path: str
) -> list[list[float]]:
    """The landed coarse quantizer, cell-ordered — shared by every
    consumer of a cell-partitioned index (raw IVF and IVF-PQ).

    Completes a crash inside a centroid swap's rename window (land or
    rebalance) before reading — see :func:`complete_swap`."""
    rows = spark.read.parquet(complete_swap(path, "centroids")).collect()
    return [r.centroid for r in sorted(rows, key=lambda r: r.cell)]


def ann_ivf_indexed_dpp(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int = 3,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """:func:`ann_ivf_indexed` with DYNAMIC partition pruning instead
    of the collected literal: the probe-cell frame joins the
    cell-partitioned corpus directly, and Spark plants a
    ``dynamicpruningexpression(cell IN dynamicpruning#N)`` partition
    filter that reuses the probe side's broadcast — the scan still
    opens only the probed directories, but no cell id ever transits
    the driver. This is the right form when the query side is a TABLE
    (unbounded row count) rather than a bounded batch: the literal
    path's ``collect`` would grow with the query count, while DPP's
    pruning set stays executor-side at any scale. Results are
    identical to the literal path and the pruned plan is pinned in
    tests/test_similarity_indexed.py.

    Two load-bearing details (both plan-pinned): the partition column
    must reach the join UNCAST (casting ``cell`` first makes the join
    key an expression and disqualifies the scan from DPP — the probe
    side is cast to the scan's type instead), and the probe side needs
    a selective-looking predicate (the ``q_id >= 0`` filter, a
    semantic no-op) because Spark's PartitionPruning rule only fires
    for filtering sides that carry one."""
    cents = load_index_centroids(spark, path)
    ncells = len(cents)
    qs, _ = _queries_and_points(spark, sf_dir)
    q_cells = _probe_cells(qs, cents, ncells, nprobe).localCheckpoint()
    cells = spark.read.parquet(f"{path}/cells")
    cell_type = dict(cells.dtypes)["cell"]
    qc = q_cells.withColumn(
        "cell", F.col("cell").cast(cell_type)
    ).filter(F.col("q_id") >= 0)
    return _score_probed_cells(cells.select("vec_id", "emb", "cell"), qc, k)


def compact_ivf_index(spark: SparkSession, path: str) -> dict[str, int]:
    """Small-file maintenance for the landed IVF index: every append
    adds one file per touched ``cell=`` directory, so after N batches
    a probed cell pays N file opens. The cells are a plain partitioned
    layout, so this is exactly ``sources.compact_partitions`` — each
    cell directory rewrites to its byte-sized file count, partition
    pruning (= nprobe) untouched. Query results and the pruned-scan
    plan are pinned unchanged in tests/test_similarity_indexed.py."""
    from mapreducekmean_spark.sources.bucketing import compact_partitions

    return compact_partitions(spark, f"{path}/cells", "cell")


def rebalance_ivf_cells(
    spark: SparkSession,
    path: str,
    max_cell_rows: int = SEM_DUP_MAX_CELL,
    train_iters: int = 2,
) -> dict[str, int]:
    """Split OVERSIZED cells of a landed IVF index in place — the
    maintenance a skewed corpus eventually needs: a hot Voronoi cell
    breaks both the nprobe/ncells read-volume bound and SemDeDup's
    per-cell pair bound (the 1M-vector probe measured one
    deterministic-init cell holding 21% of an isotropic corpus), and
    the only remedy before this operator was a full re-land.

    Each cell over ``max_cell_rows`` is re-clustered LOCALLY to that
    cell (``kmeans.lloyd`` over its rows only, ``2·ceil(n/max)``
    sub-cells targeting half-full) and its rows move to NEW cell ids
    appended past the current ceiling; the retired id leaves the
    centroid table. Untouched cells keep their ids, layout, and files —
    the cost scales with the hot cells' row counts, never the index.
    Queries are unaffected structurally: every consumer probes cells
    via the centroid table, so finer centroids simply give nprobe finer
    granularity (pinned: post-rebalance cells table is row-identical to
    a FRESH land under the rebalanced centroid list).

    The cell-id space stays DENSE (every consumer maps the centroid
    list positionally: ``km.assign``'s cluster_id IS the cell id), so a
    retired id is not removed but TOMBSTONED — its centroid becomes
    ``+inf`` coordinates, which no vector is ever nearest to and no
    probe ever selects (every real cell's distance is finite), while
    the new sub-cells take the next ids. A tombstone is an empty,
    unreachable slot, not a hazard.

    A few Lloyd iterations on a hot Voronoi region don't guarantee
    balanced sub-cells (measured: a 105k cell's 4-way split left a 77k
    sub-cell on an isotropic corpus), so an oversized sub-cell splits
    AGAIN, in memory, before anything lands; only final sub-cells take
    ids. Refuses (actionably) only on NO PROGRESS — a split whose
    largest sub-cell is the whole cell means near/byte-identical
    embedding mass that no quantizer separates; run exact dedup first.

    Crash-safe by ordering + convergent rerun: (1) orphan cleanup —
    ``cell=`` directories past the centroid table's length, or whose
    centroid is a tombstone, are leftovers of a crashed prior rebalance
    and are removed first; (2) new sub-cell partitions are written (ids
    past the table → invisible to every query); (3) the centroid table
    swaps via temp-dir + rename (``load_index_centroids`` completes a
    rename-window crash); (4) retired directories delete last. A crash
    anywhere re-runs to the identical end state.

    The engine is :func:`_rebalance_cells`, shared with
    ``pq.rebalance_ivfpq_cells``; here the raw vectors of hot cell c
    are the store's own ``cell=c`` directory. Returns
    ``{"split_cells": n, "new_cells": m, "passes": p}``: retired
    original cells, final sub-cells, and Lloyd splits run (re-splits
    of oversized sub-cells included).
    """
    import os

    if os.path.exists(f"{path}/codebooks"):
        raise ValueError(
            "rebalance_ivf_cells refuses an IVF-PQ index: its cells "
            "hold RESIDUAL codes relative to each cell's centroid, so "
            "moving rows to new sub-cells without re-encoding would "
            "silently corrupt every moved code (ADC distances against "
            "the wrong residual basis). Use pq.rebalance_ivfpq_cells "
            "with a raw-vector source (the paired raw-IVF store's path "
            "or a (vec_id, emb) frame) — it re-encodes moved rows "
            "against their new sub-centroids with the frozen "
            "codebooks; purge_ivf_keys remains safe either way (rows "
            "are removed, never re-celled)."
        )
    cents = load_index_centroids(spark, path)
    return _rebalance_cells(
        spark, path, cents, path, max_cell_rows, train_iters,
        "rebalance_ivf_cells",
    )


def _rebalance_cells(
    spark: SparkSession,
    path: str,
    cents: list[list[float]],
    raw,
    max_cell_rows: int,
    train_iters: int,
    who: str,
    encode=None,
) -> dict[str, int]:
    """The cell-store rebalance behind :func:`rebalance_ivf_cells` and
    ``pq.rebalance_ivfpq_cells`` (algorithm, crash windows and stats in
    the former's docstring). ``cents`` is the store's loaded centroid
    list; ``raw`` supplies each hot cell's raw vectors — a raw-IVF
    store path (cell c read from its ``cell=c`` directory) or a
    ``(vec_id, emb)`` frame; ``who`` names the caller in refusals;
    ``encode`` is the store's row format step (:func:`_write_cells`).

    Coverage is CHECKED per hot cell (every vec_id of the cell must
    have a raw vector; count + anti-join probe, bounded by the hot
    cell) and refused otherwise — silently landing only the covered
    subset would drop rows from the index. The split recurses on the
    checkpointed raw rows rather than re-scanning landed sub-cells: a
    separate raw source pairs with the store only at the ORIGINAL cell
    granularity. Hot cells are walked in ascending id, so new ids never
    depend on the aggregate's output order."""
    import math
    import os
    import shutil
    from functools import reduce

    cells_dir = f"{path}/cells"
    n_cents = len(cents)
    tombstoned = {i for i, c in enumerate(cents) if c and math.isinf(c[0])}
    # (1) convergent cleanup of any crashed prior rebalance
    for d in os.listdir(cells_dir):
        if not d.startswith("cell="):
            continue
        cid = int(d.split("=", 1)[1])
        if cid >= n_cents or cid in tombstoned:
            shutil.rmtree(os.path.join(cells_dir, d))
    hot = sorted(
        (int(r["cell"]), int(r["n"]))
        for r in spark.read.parquet(cells_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_cell_rows)
        .collect()
    )  # bounded: ≤ ncells driver rows
    if not hot:
        return {"split_cells": 0, "new_cells": 0, "passes": 0}

    passes = 0
    retired: list[int] = []
    added: list[list[float]] = []
    moved: list[DataFrame] = []
    for c, n in hot:
        ids_c = (
            spark.read.parquet(cells_dir)
            .filter(F.col("cell") == c)
            .select("vec_id")
        )
        if isinstance(raw, str):
            raw_rows = (
                spark.read.parquet(f"{raw}/cells")
                .filter(F.col("cell") == c)
                .select("vec_id", "emb")
            )
        else:
            raw_rows = raw.select("vec_id", "emb").join(ids_c, "vec_id")
        raw_rows = raw_rows.localCheckpoint()
        if raw_rows.count() != n or ids_c.join(
            raw_rows.select("vec_id"), "vec_id", "left_anti"
        ).take(1):
            raise ValueError(
                f"{who}: the raw source does not cover "
                f"cell {c} (needs every one of its {n} vec_ids with a "
                f"raw vector). Pass the PAIRED raw-IVF store's path "
                f"(landed under the same coarse centroids) or a "
                f"(vec_id, emb) frame covering the corpus."
            )
        work: list[tuple[DataFrame, int]] = [(raw_rows, n)]
        while work:
            rows, nn = work.pop()
            k = 2 * math.ceil(nn / max_cell_rows)
            passes += 1
            try:
                sub = km.lloyd(rows, k=k, max_iter=train_iters).centroids
            except ValueError as e:
                raise ValueError(
                    f"{who} cannot split cell {c}: {e} — an unsplittable "
                    f"hot cell means near/byte-identical embedding mass; "
                    f"run exact dedup before indexing."
                ) from e
            assigned = km.assign(rows, sub).localCheckpoint()
            counts = {
                int(x["cluster_id"]): int(x["n"])
                for x in assigned.groupBy("cluster_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            if max(counts.values()) >= nn:
                raise ValueError(
                    f"{who}: cell {c}'s {k}-way split made no progress "
                    f"(largest sub-cell keeps all {nn} rows) — "
                    f"near/byte-identical embedding mass; run "
                    f"exact/semantic dedup on the corpus before indexing."
                )
            for j, cent in enumerate(sub):
                rows_j = assigned.filter(F.col("cluster_id") == j).select(
                    "vec_id", "emb"
                )
                if counts.get(j, 0) > max_cell_rows:
                    work.append((rows_j, counts[j]))
                else:
                    # a final sub-cell takes the next id, even when empty
                    moved.append(
                        rows_j.withColumn(
                            "cell", F.lit(n_cents + len(added)).cast("bigint")
                        )
                    )
                    added.append(cent)
        retired.append(c)
    tomb = [float("inf")] * len(cents[0])
    final = [tomb if i in retired else c for i, c in enumerate(cents)] + added
    # (2) additive write: ids past the table until the swap
    _write_cells(path, reduce(DataFrame.unionByName, moved), final, encode)
    # (3) swap the centroid table (the load side completes a crash
    # inside the rename window)
    save_index_centroids(spark, path, final)
    # (4) retired directories last (tombstoned since the swap)
    for c in retired:
        shutil.rmtree(os.path.join(cells_dir, f"cell={c}"))
    return {
        "split_cells": len(retired),
        "new_cells": len(added),
        "passes": passes,
    }


def ann_ivf_indexed(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int = 3,
    nprobe: int = N_PROBE,
    qs: DataFrame | None = None,
) -> DataFrame:
    """``ivf_topk`` against the LANDED index: centroids from the
    persisted table (ncells rows — the bounded-collect class), probed
    cells read by partition pruning, identical results to the
    in-session path (pinned in tests/test_similarity_indexed.py).

    The probed cell ids are collected (≤ n_queries × nprobe values) and
    pushed as a LITERAL ``isin`` filter so the pruning is static — the
    scan plans with only the probed directories, no full-index pass
    anywhere. ``qs`` overrides the fixture-derived query batch with an
    explicit bounded ``(q_id, q_emb)`` frame — the form an
    ingest-maintained index is served with."""
    cents = load_index_centroids(spark, path)
    ncells = len(cents)
    if qs is None:
        qs, _ = _queries_and_points(spark, sf_dir)
    q_cells = _probe_cells(qs, cents, ncells, nprobe).localCheckpoint()
    probed = sorted(
        r.cell for r in q_cells.select("cell").distinct().collect()
    )
    cells = (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("cell").isin(probed))
        .select("vec_id", "emb", F.col("cell").cast("bigint").alias("cell"))
    )
    return _score_probed_cells_bc(cells, q_cells, k)


def embedding_near_dup(
    spark: SparkSession, sf_dir: str, tau: float = NEAR_DUP_TAU
) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute force, the correctness
    baseline; the LSH path below is the scale variant).

    Physically a broadcast nested-loop join evaluated as a vectorized
    Pandas stage: the (small-by-design) matrix is broadcast once, each
    task streams its slice of row ids and computes its pair block in
    numpy. Accumulation is **sequential over dimensions** (one fused
    multiply-add per dim across the whole pair block), so every dot
    product performs the identical IEEE operation sequence as the
    ``F.aggregate`` fold in ``functions/vector.py`` — results are
    bit-identical to the HOF formulation and to the DuckDB oracle, while
    running ~2 orders of magnitude faster than per-pair interpreted HOFs.
    At scale the matrix side must stay broadcastable (same contract as
    any broadcast join); beyond that, ``hyperplane_signature`` (LSH
    blocking) and ``ivf_topk`` are the O(n) paths.
    """
    import numpy as np

    pts = km.embeddings(spark, sf_dir).select("vec_id", "emb")
    n = pts.count()
    if n > NEAR_DUP_MAX_ROWS:
        raise ValueError(
            f"embedding_near_dup is the broadcast-contract brute-force "
            f"baseline: the embedding table ({n} rows) exceeds the "
            f"{NEAR_DUP_MAX_ROWS}-row driver-collect bound. At this scale "
            f"use the O(n) paths instead: ann_lsh_topk / ivf_topk "
            f"(candidate generation) or hyperplane_signature (LSH "
            f"blocking for near-dup pairs)."
        )
    local = sorted(pts.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in local], dtype=np.int64)
    mat = np.array([r.emb for r in local], dtype=np.float64)
    dim = mat.shape[1]
    # |v| via the same sequential fold order as l2_norm()
    ssq = np.zeros(len(ids))
    for d in range(dim):
        ssq = ssq + mat[:, d] * mat[:, d]
    norms = np.sqrt(ssq)
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def pair_blocks(batches):
        import pandas as pd

        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            rows = np.searchsorted(b_ids, pdf["vec_id"].to_numpy())
            sub = b_mat[rows]
            # sequential-fold dot: ((0 + a0*b0) + a1*b1) + ... per pair
            dots = np.zeros((len(rows), len(b_ids)))
            for d in range(dim):
                dots = dots + np.multiply.outer(sub[:, d], b_mat[:, d])
            sims = dots / np.multiply.outer(b_norms[rows], b_norms)
            ia, ib = np.nonzero(
                (b_ids[rows][:, None] < b_ids[None, :]) & (sims >= tau)
            )
            yield pd.DataFrame(
                {
                    "id_a": b_ids[rows][ia],
                    "id_b": b_ids[ib],
                    "sim_raw": sims[ia, ib],
                }
            )

    out = (
        pts.select("vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(pair_blocks, "id_a bigint, id_b bigint, sim_raw double")
    )
    return out.select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))


def _sem_dup_of(ids, mat, tau: float, target_idx):
    """The SemDeDup pair kernel over one cell block: for each target row
    (positions ``target_idx`` of the block), the smallest LOWER id whose
    cosine reaches ``tau``, or an int64 sentinel meaning kept.
    ``ids``/``mat`` must be id-sorted. Every dot product accumulates
    per-dimension in index order (one fused multiply-add per dim across
    the whole block) — the identical IEEE sequence as
    ``functions/vector.py``'s fold and the DuckDB twin's ``list_sum``,
    so the ``sim >= tau`` verdict is bit-identical regardless of which
    columns are kept. Shared by the full in-session pass and the
    incremental delta (through :func:`_sem_dedup_cells`) so the
    arithmetic cannot drift; row blocks of 1024 bound the pair
    matrix."""
    import numpy as np

    n, dim = mat.shape
    tm = mat[target_idx]
    tids = ids[target_idx]
    ssq = np.zeros(n)
    for d in range(dim):
        ssq = ssq + mat[:, d] * mat[:, d]
    norms = np.sqrt(ssq)
    tnorms = norms[target_idx]
    sentinel = np.iinfo(np.int64).max
    dup_of = np.full(len(target_idx), sentinel, dtype=np.int64)
    for lo in range(0, n, 1024):
        hi = min(lo + 1024, n)
        dots = np.zeros((hi - lo, len(target_idx)))
        for d in range(dim):
            dots = dots + np.multiply.outer(mat[lo:hi, d], tm[:, d])
        sims = dots / np.multiply.outer(norms[lo:hi], tnorms)
        # row i (the lower id) marks target column j as its duplicate
        mask = (ids[lo:hi][:, None] < tids[None, :]) & (sims >= tau)
        cand = np.where(mask, ids[lo:hi][:, None], sentinel).min(axis=0)
        dup_of = np.minimum(dup_of, cand)
    return dup_of, sentinel


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    tau: float = SEM_DUP_TAU,
    ncells: int = km.DEFAULT_K,
    max_cell_rows: int = SEM_DUP_MAX_CELL,
    cents: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse-cluster embeddings into IVF
    cells (deterministic K-Means init, same quantizer as ``ivf_topk``),
    then mark within each cell every vector whose cosine similarity to a
    LOWER-id cellmate reaches ``tau`` as a duplicate of the smallest
    such id. The published recipe for embedding-space dedup at scale:
    pair scoring never crosses cell boundaries, so total work is
    Σ n_cell² instead of n² — with k sized so cells hold a roughly
    constant row count, that is linear in n, and each cell is an
    independent ``applyInPandas`` group (one shuffle on the cell id).

    Exactness: the pair kernel accumulates dot products sequentially
    over dimensions (one fused multiply-add per dim across the whole
    pair block), the identical IEEE operation sequence as the
    ``F.aggregate`` fold in ``functions/vector.py`` and DuckDB's
    ``list_sum(list_transform(...))`` — so the ``sim >= tau`` verdict is
    bit-identical to the oracle. Row blocks of 1024 bound the pair
    matrix to 1024 × n_cell doubles regardless of cell size.

    The linearity claim is SELF-ENFORCING, not a parameter the caller
    must remember: one narrow count pass over the cell assignment (k
    result rows — negligible next to the quadratic pair work it
    protects) raises with an actionable message when any cell exceeds
    ``max_cell_rows``, the same contract style as the
    ``NEAR_DUP_MAX_ROWS`` brute-force guard above. Splitting an
    oversized cell silently would change which pairs get scored (and
    therefore the declared oracle), so the guard refuses instead and
    tells the caller to raise ``ncells`` — the published SemDeDup recipe
    sizes k so cells hold a roughly constant row count.
    """
    pts = km.embeddings(spark, sf_dir).select("vec_id", "emb")
    if cents is None:
        cents = km.init_centroids(spark, sf_dir, ncells)
    bucketed = _bucket(pts, cents)
    oversized = (
        bucketed.groupBy("cell")
        .count()
        .filter(F.col("count") > max_cell_rows)
        .orderBy(F.col("count").desc())
        .limit(1)
        .collect()
    )
    if oversized:
        r = oversized[0]
        raise ValueError(
            f"semantic_dedup cell {r['cell']} holds {r['count']} rows, "
            f"over the {max_cell_rows}-row per-cell bound — within-cell "
            f"pair scoring is n_cell^2, so an unbounded cell breaks the "
            f"sigma-n_cell^2-linear-in-n scale contract. Raise ncells "
            f"(currently {ncells}) so cells stay bounded; k should track "
            f"n / target_cell_rows."
        )
    return _sem_dedup_cells(bucketed.withColumn("target", F.lit(True)), tau)


def _sem_dedup_cells(rows: DataFrame, tau: float) -> DataFrame:
    """The SemDeDup cell kernel shared by :func:`semantic_dedup` (every
    row a target) and :func:`semantic_dedup_delta` (batch rows only):
    one ``applyInPandas`` group per cell of ``(vec_id, emb, cell,
    target)`` rows, emitting ``(vec_id, cell, kept, dup_of)`` for the
    target rows — ``dup_of`` is the smallest lower-id cellmate, target
    or not, with cosine >= ``tau`` (:func:`_sem_dup_of`)."""
    import numpy as np
    import pandas as pd

    from mapreducekmean_spark.shipping import ship_package

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.array(
            [list(e) for e in pdf["emb"].to_numpy()[order]],
            dtype=np.float64,
        )
        target_idx = np.where(pdf["target"].to_numpy()[order])[0]
        dup_of, sentinel = _sem_dup_of(ids, mat, tau, target_idx)
        kept = dup_of == sentinel
        return pd.DataFrame(
            {
                "vec_id": ids[target_idx],
                "cell": pdf["cell"].to_numpy()[order][target_idx],
                "kept": kept,
                "dup_of": [
                    None if k else int(v) for k, v in zip(kept, dup_of)
                ],
            }
        )

    ship_package(rows.sparkSession)
    return rows.groupBy("cell").applyInPandas(
        per_cell, "vec_id bigint, cell bigint, kept boolean, dup_of bigint"
    )


def _landed_cells_scan(
    spark: SparkSession, path: str, touched: list[int]
) -> DataFrame:
    """The delta's index read: ONLY the touched ``cell=`` partition
    directories (PartitionFilters on the scan — pinned in
    tests/test_similarity_indexed.py against this very frame, since the
    operator checkpoints it and the final plan shows the checkpoint,
    not the scan it materialized)."""
    return (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("cell").isin(touched))
        .select("vec_id", "emb", F.col("cell").cast("bigint").alias("cell"))
    )


def semantic_dedup_delta(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    tau: float = SEM_DUP_TAU,
    max_cell_rows: int = SEM_DUP_MAX_CELL,
) -> DataFrame:
    """Incremental SemDeDup against a LANDED IVF index — the form a
    100 TB embedding dedup actually runs: an arriving batch is
    quantized by the index's FROZEN coarse quantizer, the index
    contributes ONLY the batch's touched ``cell=`` partition
    directories (physical partition pruning — same economics as
    ``incremental.dedup_delta``'s bucketed tables), and each batch
    vector's verdict is the smallest lower-id cellmate (landed or
    batch) with cosine ≥ ``tau``. Per-batch cost scales with
    |batch| × touched-cell occupancy, never with the corpus.

    Equivalence contract (pinned in tests/test_similarity_indexed.py):
    given monotone ids (every batch id above the landed ceiling — the
    ``append_ivf_index`` contract, enforced here per touched cell), the
    verdicts equal :func:`semantic_dedup` over the UNION under the same
    frozen quantizer, restricted to the batch — because a batch row's
    dup_of depends only on its LOWER-id cellmates, all of which are
    landed or in-batch. The pair arithmetic is the shared
    :func:`_sem_dup_of` kernel, so the equality is bit-exact.

    Replay-safe: landed copies of batch ids are anti-joined out before
    scoring, so re-scoring a batch that a crashed caller already
    appended yields the identical verdicts instead of wedging.

    Output: ``(vec_id, cell, kept, dup_of)`` for the batch rows only.
    """
    cents = load_index_centroids(spark, path)
    b = _bucket(batch.select("vec_id", "emb"), cents).localCheckpoint()
    touched = sorted(
        int(r.cell) for r in b.select("cell").distinct().collect()
    )  # bounded: ≤ ncells driver rows
    landed_raw = _landed_cells_scan(spark, path, touched)
    landed = (
        # drop landed copies of batch ids (crashed-append replay)
        landed_raw.join(F.broadcast(b.select("vec_id")), "vec_id",
                        "left_anti")
    ).localCheckpoint()
    # THREE guard probes, ONE job: each probe is a limit(1) subtree and
    # they touch already-materialized frames, so running them as a
    # 3-way union collect costs one job instead of three (the probes
    # fire never on a healthy index — this is pure job-count savings;
    # identical error semantics, checked per kind below).
    # (a) landed copies of batch ids are a crashed-append replay ONLY
    # if the payload matches bit-for-bit; the same id carrying a
    # different embedding is an id collision the verdict orientation
    # cannot survive, so it refuses instead of silently dropping a row
    collision_p = (
        landed_raw.join(
            F.broadcast(b.select("vec_id", F.col("emb").alias("b_emb"))),
            "vec_id",
        )
        .filter(F.col("emb") != F.col("b_emb"))
        .select(
            F.lit("collision").alias("kind"),
            F.col("vec_id").cast("bigint").alias("k1"),
            F.lit(0).cast("bigint").alias("k2"),
            F.lit(0).cast("bigint").alias("k3"),
        )
        .limit(1)
    )
    # (b) monotone-id contract, per the cells that actually interact: a
    # landed id ABOVE a batch id in a shared cell would have needed
    # this batch as a dup candidate when ITS verdict was emitted
    bounds_p = (
        landed.groupBy("cell").agg(F.max("vec_id").alias("max_landed"))
        .join(b.groupBy("cell").agg(F.min("vec_id").alias("min_new")),
              "cell")
        .filter(F.col("min_new") <= F.col("max_landed"))
        .select(
            F.lit("bounds").alias("kind"),
            F.col("cell").cast("bigint").alias("k1"),
            F.col("min_new").cast("bigint").alias("k2"),
            F.col("max_landed").cast("bigint").alias("k3"),
        )
        .limit(1)
    )
    # (c) per-cell occupancy bound (the sigma-n_cell^2 contract)
    combined = landed.select("cell").unionByName(b.select("cell"))
    oversized_p = (
        combined.groupBy("cell")
        .count()
        .filter(F.col("count") > max_cell_rows)
        .orderBy(F.col("count").desc())
        .select(
            F.lit("oversized").alias("kind"),
            F.col("cell").cast("bigint").alias("k1"),
            F.col("count").cast("bigint").alias("k2"),
            F.lit(0).cast("bigint").alias("k3"),
        )
        .limit(1)
    )
    guards = {
        r["kind"]: r
        for r in collision_p.unionByName(bounds_p)
        .unionByName(oversized_p)
        .collect()
    }
    if "collision" in guards:
        raise ValueError(
            f"semantic_dedup_delta id collision: landed vec_id "
            f"{guards['collision']['k1']} carries a different embedding "
            f"than the batch row with the same id — not a replay. "
            f"Re-id the batch above the landed ceiling."
        )
    if "bounds" in guards:
        r = guards["bounds"]
        raise ValueError(
            f"semantic_dedup_delta requires append-only monotone ids: "
            f"cell {r['k1']} has batch min vec_id {r['k2']} <= "
            f"landed max {r['k3']}. The keep-lowest policy "
            f"orients every cross pair as landed < new; re-id the "
            f"batch above the landed ceiling."
        )
    if "oversized" in guards:
        r = guards["oversized"]
        raise ValueError(
            f"semantic_dedup_delta cell {r['k1']} holds {r['k2']} "
            f"rows (landed + batch), over the {max_cell_rows}-row "
            f"per-cell bound — the same sigma-n_cell^2 contract as "
            f"semantic_dedup. Run rebalance_ivf_cells on the index "
            f"(splits hot cells in place) or re-land with more ncells."
        )

    return _sem_dedup_cells(
        landed.withColumn("target", F.lit(False)).unionByName(
            b.withColumn("target", F.lit(True))
        ),
        tau,
    )


def ann_lsh_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """LSH-bucketed ANN top-k — the second scale variant alongside IVF:
    candidates are points sharing at least one hyperplane-signature band
    with the query, scored exactly, ranked per query.

    Scale shape: the band table is O(n·bands) narrow rows with uniform
    keys; the candidate join is an equi hash join on (band_idx, bucket)
    against the broadcast query bands — work scales with bucket
    occupancy, never n². Recall rises with more bands/planes; the
    brute-force twin (``cosine_topk``) is the recall-1.0 baseline."""
    qs, pts = _queries_and_points(spark, sf_dir)
    sigs = hyperplane_signature(spark, sf_dir)
    bands = sigs.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("bi"), F.col("band0").alias("bv")
                ),
                F.struct(
                    F.lit(1).alias("bi"), F.col("band1").alias("bv")
                ),
            )
        ).alias("b"),
    ).select("vec_id", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    q_bands = bands.join(
        qs.select("q_id"), bands.vec_id == F.col("q_id")
    ).select("q_id", "bi", "bv")
    cand = (
        bands.join(F.broadcast(q_bands), ["bi", "bv"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    scored = cand.join(pts, "vec_id").join(F.broadcast(qs), "q_id")
    return _sim_topk(
        scored.withColumn(
            "sim_raw", cosine_sim(F.col("q_emb"), F.col("emb"))
        ),
        k,
    )


def hyperplane_signature(
    spark: SparkSession, sf_dir: str, n_planes: int = N_PLANES, dim: int = 64
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) signature: bit p is the
    sign of emb·plane_p. Planes are md5-derived constants, so the oracle
    can rebuild them; signature emitted as a '0'/'1' string plus 2 band
    buckets for the near-dup join.

    Optimization r14 (guide §3.3 large plans / §5 driver): the previous
    form built ``n_planes`` separate dot-product HOFs over per-plane
    ``F.array(*[F.lit per component])`` — 16×64 py4j calls and a
    literal-heavy tree that every downstream DataFrame transformation
    re-analyzed (measured: ann_lsh spent 4.1 s of its 4.4 s wall
    building/analyzing the plan, 0.9 s executing it). Now the planes are
    ONE parsed 2-D literal and the signature ONE ``transform`` over it —
    the per-plane fold is the identical ``aggregate(zip_with(...))``
    sequence, so the emitted bits are bit-for-bit unchanged (same IEEE
    order, same >= 0 test), while the tree shrinks ~100× and plan
    construction is a single py4j call. The signature is computed in an
    inner projection and the bands sliced from it in the outer one."""
    from mapreducekmean_spark.functions.vector import centroid_literal_sql

    pts = km.embeddings(spark, sf_dir).select("vec_id", "emb")
    planes_sql = centroid_literal_sql(plane_constants(n_planes, dim))
    sig = F.expr(
        f"array_join(transform({planes_sql}, pl -> "
        "CASE WHEN aggregate(zip_with(emb, pl, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v) >= 0.0D THEN '1' ELSE '0' END), '')"
    )
    half = n_planes // 2
    return pts.select("vec_id", sig.alias("sig")).select(
        "vec_id",
        "sig",
        F.substring("sig", 1, half).alias("band0"),
        F.substring("sig", half + 1, half).alias("band1"),
    )


def plane_constants(n_planes: int = N_PLANES, dim: int = 64) -> list[list[float]]:
    """The deterministic hyperplanes as plain floats (for oracles/tests)."""
    import hashlib

    out = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]
            row.append(1.0 if h in "89abcdef" else -1.0)
        out.append(row)
    return out


#: Scalar-quantization code levels (8-bit: codes 0..QUANT_LEVELS).
QUANT_LEVELS = 255


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension scalar quantization of the embedding column to 8-bit
    codes — the standard vector-store compression step (4× over float32,
    32× over the double math) that a 100 TB embedding corpus applies
    before ANN indexing.

    Two passes, like the K-Means init: (1) one distributed aggregate for
    the per-dimension min/max (posexplode → 64-key groupBy, partial+final
    agg, d rows collected — bounded like the k-row centroid collect,
    `KMeans.java:114-148`); (2) one narrow codegen projection mapping
    every vector through the CONSTANT-FOLDED (min, max) literal arrays —
    no join, no second shuffle, same broadcast-small-state shape as R5.

    code_i = floor((x_i - mn_i) / (mx_i - mn_i) * 255), exact in IEEE
    double (float inputs upcast exactly; one parenthesized op order both
    engines), so the DuckDB twin matches bit-for-bit. q_norm2 (the
    integer self-dot-product every cosine/IP rescoring needs) sums
    exactly in int64."""
    pts = km.embeddings(spark, sf_dir).select("vec_id", "emb")
    stats = (
        pts.select(F.posexplode("emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mn = {r.pos: r.mn for r in stats}
    mx = {r.pos: r.mx for r in stats}
    dims = sorted(mn)
    # One parsed expression zipping against a SINGLE (mn, mx) struct-
    # array literal (optimization r14, guide §3.3/§5): the F.transform
    # lambda form re-embedded the two 64-literal arrays at each of its
    # five element_at references — a ~640-literal tree rebuilt through
    # py4j F.lit calls and re-analyzed by every downstream
    # transformation. zip_with references the literal once, so the tree
    # shrinks ~5× and construction is one parse. Same arithmetic, same
    # IEEE op order — codes are bit-identical (zip_with pairs
    # emb[i] with the i-th struct exactly as element_at(arr, i+1) did).
    from mapreducekmean_spark.functions.vector import double_literal_sql

    mm_sql = "array(" + ",".join(
        f"named_struct('mn',{double_literal_sql(mn[i])},"
        f"'mx',{double_literal_sql(mx[i])})"
        for i in dims
    ) + ")"
    qvec = F.expr(
        f"zip_with(emb, {mm_sql}, (x, s) -> CASE WHEN s.mx > s.mn THEN "
        f"CAST(floor((x - s.mn) / (s.mx - s.mn) * {QUANT_LEVELS}) AS INT) "
        "ELSE 0 END)"
    )
    out = pts.select("vec_id", qvec.alias("qvec"))
    norm2 = F.aggregate(
        "qvec",
        F.lit(0).cast("bigint"),
        lambda acc, q: acc + q.cast("bigint") * q,
    )
    return out.select("vec_id", "qvec", norm2.alias("q_norm2"))


def quantize_embeddings_serialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`quantize_embeddings` with the code vector serialized to a
    comma-joined string — the declared-query surface. External
    comparators that hash row values (pandas-style) cannot factorize
    Python lists, so the declared output carries `qvec` as a string
    (same serialization contract as `analytic.orders_list_per_customer`);
    the raw `array<int>` form stays the library API that
    `ann_quantized_topk` and the int64 rescoring consume."""
    q = quantize_embeddings(spark, sf_dir)
    return q.select(
        "vec_id",
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec"),
        "q_norm2",
    )


def ann_quantized_topk(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """Top-k neighbors by INTEGER dot product over the 8-bit quantized
    vectors — the rescoring arithmetic a quantized vector store actually
    runs. Every score is an exact int64 (codes are 0..255, 64 dims →
    max 64·255² ≈ 4.2M per pair), so the ranking is bit-identical
    cross-engine with no float tolerance at all — the concrete payoff
    of ``quantize_embeddings``' exactness.

    Shape: the 10-query quantized batch broadcasts against the
    quantized corpus (the same broadcast nested-loop as ``cosine_topk``
    but on 64-byte int arrays instead of 512-byte doubles — 8× less
    broadcast traffic at 100 TB); per-query top-k via window rank with
    neighbor-id tie-break."""
    q = quantize_embeddings(spark, sf_dir).select("vec_id", "qvec")
    queries = q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("qvec").alias("q_qvec")
    )
    pairs = q.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
    dot = F.aggregate(
        F.zip_with("qvec", "q_qvec", lambda a, b: a.cast("bigint") * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            dot.alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def l2_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Exact squared-L2 brute-force top-k — the recall-1.0 baseline in
    the metric the PQ compression tiers approximate (ADC estimates
    squared L2, not cosine, so PQ recall must be scored against an L2
    ground truth or the measurement conflates quantization error with
    metric mismatch). Same broadcast-query shape as ``cosine_topk``;
    rank ascending by distance, neighbor-id tie-break. The fold order
    of ``sq_dist`` matches the DuckDB twin's ``list_sum`` exactly
    (functions/vector.py contract), so the rank sets are deterministic
    cross-engine up to near-exact ties."""
    from mapreducekmean_spark.functions.vector import sq_dist

    qs, pts = _queries_and_points(spark, sf_dir)
    joined = pts.join(F.broadcast(qs), F.col("vec_id") != F.col("q_id"))
    return top_k_per_query(
        joined.withColumn("dist", sq_dist(F.col("q_emb"), F.col("emb"))),
        k,
        F.col("dist").asc(),
        F.col("vec_id").asc(),
    ).select("q_id", F.col("vec_id").alias("neighbor_id"), "rank")


def recall_vs_exact(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approximate (q_id, neighbor_id) rank
    set against the exact one: ``n_hit = |approx ∩ exact|`` per query
    (integer), ``recall = n_hit / k`` (ONE IEEE division, rounded 6 dp
    — cross-engine exact). Shared by every ANN evaluation query so the
    scoring arithmetic cannot drift between tiers. Driver-scale frames
    (k·|queries| rows each side)."""
    exact = exact.select("q_id", "neighbor_id")
    approx = approx.select("q_id", "neighbor_id")
    hits = (
        approx.join(exact, ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    qids = exact.select("q_id").distinct()
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        n_hit.alias("n_hit"),
        F.lit(int(k)).cast("bigint").alias("k"),
        F.round(n_hit / F.lit(int(k)), 6).alias("recall"),
    )


def ann_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    nprobe: int = N_PROBE,
    ncells: int = km.DEFAULT_K,
) -> DataFrame:
    """Recall@k of the IVF ANN path against the exact brute-force
    baseline — the evaluation every ANN deployment runs before trusting
    an index: per query, ``n_hit`` = |IVF top-k ∩ exact top-k| and
    ``recall = n_hit / k``. Both rank sets are deterministic (sim desc,
    vec_id tie-break), so the intersection is integer-exact and the one
    IEEE division cross-hashes.

    Scale shape: the exact side is the broadcast-query brute pass (the
    priced baseline — an evaluation runs it over a SAMPLE of queries,
    never the serving batch), the approx side probes cells by layout;
    the intersection is a (q_id, neighbor_id) hash join between two
    k·|queries|-row frames — driver-scale either way.
    """
    exact = cosine_topk(spark, sf_dir, k=k)
    approx = ivf_topk(spark, sf_dir, k=k, nprobe=nprobe, ncells=ncells)
    return recall_vs_exact(exact, approx, k)


def ivf_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Occupancy report over a landed IVF index — the monitoring query
    an ANN deployment runs before trusting its latency budget: per
    ``cell=`` partition, the vector count and its load ratio vs the
    uniform ideal (``n_vecs × ncells / total``, one IEEE division,
    rounded 6 dp). A hot cell (ratio ≫ 1) is the straggler that caps
    probe latency; the fix is retraining the coarse quantizer or
    raising ncells — this query is how you notice.

    Scale shape: one column-pruned scan of the cells table (the ``cell``
    partition column plus nothing else reaches the aggregate), one
    partial+final count per cell, a 1-row total broadcast back. Output
    is ncells rows."""
    cells = spark.read.parquet(f"{path}/cells").select("cell")
    per_cell = cells.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    totals = per_cell.agg(
        F.sum("n_vecs").alias("total"),
        F.count("*").alias("ncells"),
    )
    return per_cell.crossJoin(F.broadcast(totals)).select(
        F.col("cell").cast("bigint").alias("cell"),
        "n_vecs",
        F.round(
            F.col("n_vecs") * F.col("ncells") / F.col("total"), 6
        ).alias("load_ratio"),
    )


def purge_ivf_keys(
    spark: SparkSession, path: str, vec_ids: list[int]
) -> dict[str, int]:
    """Delete vectors from a landed cell-partitioned vector index (raw
    IVF and IVF-PQ share the ``cells/cell=`` layout, so this serves
    both) — the right-to-be-forgotten maintenance a 100 TB vector
    store needs: one column-pruned (vec_id, cell) scan finds the
    touched cells, only those directories rewrite
    (``sources.bucketing.purge_partition_keys``), centroids/codebooks
    are untouched (a quantizer is an aggregate artifact, not per-row
    user data). Pinned in tests/test_similarity_indexed.py: the purged
    index is row-identical to a FRESH land of the remaining vectors
    under the same frozen quantizer, and serving returns exactly the
    rebuilt index's results."""
    from mapreducekmean_spark.sources.bucketing import purge_partition_keys

    return purge_partition_keys(
        spark, f"{path}/cells", "cell", "vec_id", vec_ids
    )


def ann_recall_curve(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    nprobes: tuple = (1, 2, 4),
    ncells: int = km.DEFAULT_K,
) -> DataFrame:
    """The nprobe SIZING CURVE — recall@k at several probe budgets in
    one result, the table an ANN operator actually reads when choosing
    nprobe for a latency budget (per-query recall rows answer "is this
    query served well"; the curve answers "what does one more probed
    cell buy corpus-wide"). One row per nprobe level:
    ``(nprobe, n_queries, n_hit, k, recall)`` with ``recall =
    n_hit / (k · n_queries)`` — integer totals, ONE IEEE division
    (the ``recall_vs_exact`` discipline, aggregated). Non-decreasing
    in nprobe (candidate superset) and exactly 1.0 at nprobe = ncells
    (probing every cell IS the brute-force pass) — both pinned in
    tests/test_similarity_indexed.py.

    Scale shape (r14: the levels are TRUE PREFIX CUTS — the r13 form
    re-ran a full ivf_topk per level, paying the centroid init, the
    corpus cell assignment, and the Arrow scoring pass three times):
    the exact baseline is computed ONCE (checkpointed, k·|queries|
    rows); the centroids, the corpus cell assignment, and the scored
    candidate set are each computed ONCE at max(nprobes) with the
    0-based probe rank carried through the scoring kernel
    (``_probe_cells(with_rank=True)`` → ``_score_candidates``); each
    level is then a rank-window top-k over the checkpointed candidates
    with ``probe_rank < nprobe`` — candidate-scale work, no corpus
    pass. Equivalence with per-level ivf_topk is structural (the
    level-np candidate set IS the probe_rank-prefix of the max-np set;
    scoring per pair is batch-independent) and pinned in
    tests/test_similarity_indexed.py."""
    exact = (
        cosine_topk(spark, sf_dir, k=k)
        .select("q_id", "neighbor_id")
        .localCheckpoint()
    )
    n_q = exact.select("q_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries")
    )
    qs, pts = _queries_and_points(spark, sf_dir)
    cents = km.init_centroids(spark, sf_dir, ncells)
    max_np = max(int(x) for x in nprobes)
    q_cells = _probe_cells(qs, cents, ncells, max_np, with_rank=True)
    cands = _bucket(pts, cents).join(F.broadcast(q_cells), "cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = _score_candidates(cands, extra=("probe_rank",)).localCheckpoint()
    return _prefix_cut_curve(
        scored,
        exact,
        n_q,
        level_col="nprobe",
        levels=[int(x) for x in nprobes],
        in_level=lambda np_: F.col("probe_rank") < np_,
        order=[F.col("sim_raw").desc(), F.col("vec_id").asc()],
        id_col="vec_id",
        k=k,
    )


def _prefix_cut_curve(
    scored: DataFrame,
    exact: DataFrame,
    n_q: DataFrame,
    level_col: str,
    levels: list[int],
    in_level,
    order: list,
    id_col: str,
    k: int,
) -> DataFrame:
    """The shared one-window-pass tail of the sizing-curve queries
    (``ann_recall_curve``'s nprobe levels, ``pq.ivfpq_refined_mcand_
    curve``'s m_cand levels): every level's top-k is a rank cut of the
    SAME ordering restricted to a level predicate, so all levels rank
    in ONE window pass instead of one Sort+Window(+join+aggregate) per
    level (optimization r15, guide §2.4 — the r14 plan carried three
    full window chains, three hash joins against the exact baseline and
    three n_q aggregates under a 3-branch Union).

    Mechanics: with the level sets nested (prefix cuts) and the
    ordering total within a query (unique ``id_col`` tie-break), the
    row_number a row would get at level L equals the running count of
    level-L rows up to and including itself in the shared order — so
    one Window node computes every level's rank as a conditional
    running sum, a row joins level L's top-k iff it satisfies the level
    predicate with running count ≤ k (bit-identical membership to the
    per-level ``row_number() <= k`` filter), and ONE broadcast hash
    join + ONE per-level aggregate count the exact-baseline hits for
    every level. Levels must be distinct (asserted — a duplicate level
    would double-count its hits in the grouped aggregate where the
    per-level loop emitted two identical rows)."""
    if len(set(levels)) != len(levels):
        raise ValueError(f"curve levels must be distinct, got {levels}")
    w = Window.partitionBy("q_id").orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    # two-step projection: the conditional running sums live in a plain
    # Project over ONE Window node (same window spec for every level);
    # the generator below then only touches materialized columns (a
    # window expression inside a Generate is not allowed by analysis).
    cums = scored.select(
        "q_id",
        F.col(id_col).alias("neighbor_id"),
        *[in_level(lvl).alias(f"__in_{i}") for i, lvl in enumerate(levels)],
        *[
            F.sum(in_level(lvl).cast("int"))
            .over(cum)
            .alias(f"__rk_{i}")
            for i, lvl in enumerate(levels)
        ],
    )
    ranked = cums.select(
        "q_id",
        "neighbor_id",
        F.explode(
            F.array_compact(
                F.array(
                    *[
                        F.when(
                            F.col(f"__in_{i}")
                            & (F.col(f"__rk_{i}") <= int(k)),
                            F.lit(int(lvl)).cast("bigint"),
                        )
                        for i, lvl in enumerate(levels)
                    ]
                )
            )
        ).alias(level_col),
    )
    hits = (
        ranked.join(F.broadcast(exact), ["q_id", "neighbor_id"])
        .groupBy(level_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    lvl_df = local_rows_df(
        scored.sparkSession,
        [(int(lvl),) for lvl in levels],
        f"{level_col} bigint",
    )
    return (
        lvl_df.crossJoin(F.broadcast(n_q))
        .join(F.broadcast(hits), level_col, "left")
        .select(
            level_col,
            "n_queries",
            F.coalesce(F.col("n_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hit"),
            F.lit(int(k)).cast("bigint").alias("k"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0))
                / (F.lit(int(k)) * F.col("n_queries")),
                6,
            ).alias("recall"),
        )
    )
