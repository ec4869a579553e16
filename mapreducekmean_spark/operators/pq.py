"""Product quantization (PQ) — the vector-store compression step past
scalar quantization.

Public algorithm: Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011). Split each d-dim vector into M
subvectors, learn a tiny K-means codebook PER SUBSPACE, and store each
vector as M small codes — here M=8 subspaces × K=16 codes = 4 bits per
subspace, 32 bits per 64-d vector (128× smaller than the float64 math,
16× smaller than the engine's 8-bit scalar quantization) — while query
time uses ASYMMETRIC distance (ADC): the query stays exact, each
database vector's distance is approximated as the sum of M table
lookups.

The reference has nothing like this (its only vector op is the full
K-Means loop, ``/root/reference/src/KMeans.java``); PQ belongs to the
engine's ANN family as the compression tier: IVF prunes WHERE to look
(``similarity.land_ivf_index``), PQ shrinks WHAT is stored and scanned.

Spark mapping — deliberately the same shapes as the oracle-checked
K-Means core, just M codebooks at once:

- **training** is Lloyd over all M subspaces SIMULTANEOUSLY through
  ``kmeans.fold_loop``, the fold driver k-means uses, on the same
  Arrow-decoded numpy blocks (``kmeans.arrow_blocks`` — MLlib's own
  strategy): per iteration the (m, k, ds) codebook array meets every
  block and the (m×k×ds sums, m×k counts) partials fold back —
  centroid_update's bounded combine payload times M, with zero
  per-iteration Catalyst planning;
- **init** is the md5-deterministic k-sample (``kmeans.md5_seed_rows``,
  ``deterministic_init``'s ordering), so training is reproducible run
  to run with no RNG;
- **encoding** is one Arrow-batched ``mapInArrow`` pass over the same
  ``_codes_np`` kernel (no shuffle; why not a Catalyst expression:
  see the kernel's docstring — both expression forms measured badly);
- **ADC scoring** computes each query's M×K lookup table driver-side
  (a handful of floats — the same bounded-collect class as the k-row
  centroid collect), folds it into a literal, and scores every
  encoded row with M static ``element_at`` lookups — a small codegen
  expression: the scan reads 4-byte codes, never the 512-byte raw
  vectors. Empty cells keep their previous centroid, mirroring
  ``KMeans.java:129-144`` policy.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducekmean_spark.operators import kmeans as km
from mapreducekmean_spark.operators.similarity import (
    N_PROBE,
    N_QUERIES,
    SEM_DUP_MAX_CELL,
    _append_cells,
    _land_cells,
    _prefix_cut_curve,
    _probe_cells,
    _queries_and_points,
    _rebalance_cells,
    complete_swap,
    l2_topk,
    load_index_centroids,
    recall_vs_exact,
    swap_table,
    top_k_per_query,
)
from mapreducekmean_spark.session import local_rows_df

#: Subspace count (d must divide evenly) and codes per subspace.
PQ_M = 8
PQ_K = 16
#: Lloyd iterations per training run — fixed (not convergence-tested)
#: so the training cost is a known constant number of passes.
PQ_ITERS = 4


def _fold_add(terms: list[Column]) -> Column:
    """Left-associated sum — the same FP evaluation order as
    ``aggregate(…, 0.0, (acc, x) -> acc + x)`` folding non-negative
    terms (0.0 + t == t for t >= 0), so swapping the HOF fold for this
    static expansion is bit-identical."""
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _codes_np(X, cb):
    """Per-subspace nearest-code indices for a block: (n, d) float64
    matrix against the (m, K, ds) codebook array → (n, m) int codes,
    one ``kmeans._nearest`` call per subspace — the k-means assignment
    kernel, so distances fold in the same order as the pure-Python
    oracle in tests/test_pq.py and ties and NaNs resolve as in
    ``kmeans.assign``. This is the hot kernel of both training and
    encoding; it rides the ``kmeans.arrow_blocks`` Arrow machinery
    rather than a Catalyst expression because both alternatives
    measured badly at 1M×64 (SCALE.md round 7): lambda higher-order
    functions are CodegenFallback (interpreted per row), and a
    statically unrolled M×K×ds expression (~4k nodes) blows past
    janino's method limits into interpreted fallback plus ~70 s of
    per-query planning."""
    import numpy as np

    m, _k, ds = cb.shape
    codes = np.empty((X.shape[0], m), dtype=np.int64)
    for s in range(m):
        codes[:, s] = km._nearest(X[:, s * ds : (s + 1) * ds], cb[s])[1]
    return codes


def train_pq_codebooks(
    points: DataFrame,
    dim: int,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """Train the M codebooks: deterministic init (the k md5-smallest
    vectors, each sliced into its M subvectors — no RNG), then
    ``iters`` simultaneous-subspace Lloyd passes through
    ``kmeans.fold_loop``. Returns ``codebooks[sub][code] == list of d/m
    floats``."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    seed_rows = km.md5_seed_rows(points, k)
    if len(seed_rows) < k:
        raise ValueError(
            f"PQ training needs at least k={k} vectors, got {len(seed_rows)}"
        )
    codebooks = [
        [list(map(float, r.emb[sub * ds : (sub + 1) * ds])) for r in seed_rows]
        for sub in range(m)
    ]
    if iters == 0:
        return codebooks
    import numpy as np

    # tol=0: the max movement is never negative, so every pass runs
    cb, _history, _converged, _it = km.fold_loop(
        points,
        np.asarray(codebooks),
        _pq_block_partials,
        partial(km._advance, tol=0.0),
        iters,
    )
    return cb.tolist()


def _pq_block_partials(X, cb):
    """Per-block PQ-training partials against the (m, k, ds) codebook
    array: (m×k×ds sums, m×k counts) of the per-subspace nearest-code
    assignment — the PQ ``partials`` of ``kmeans.fold_loop``."""
    import numpy as np

    m, k, ds = cb.shape
    codes = _codes_np(X, cb)
    sums = np.zeros((m, k, ds))
    counts = np.zeros((m, k), dtype=np.int64)
    for s in range(m):
        np.add.at(sums[s], codes[:, s], X[:, s * ds : (s + 1) * ds])
        np.add.at(counts[s], codes[:, s], 1)
    return sums, counts


def pq_encode(
    points: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """(vec_id, codes array<int>) — M codes per vector, one Arrow-
    batched ``mapInArrow`` pass over the ``_codes_np`` kernel (the
    compressed representation a 100 TB vector store actually lands:
    32 bits/vector at the default M×K). No shuffle; payloads never
    transit the driver."""
    import numpy as np

    cb = np.asarray(codebooks)

    def enc(batches):
        import pyarrow as pa

        out_schema = pa.schema(
            [
                pa.field("vec_id", pa.int64()),
                pa.field("codes", pa.list_(pa.int32())),
            ]
        )
        for ids, X in km.arrow_blocks(batches):
            codes = _codes_np(X, cb).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, type=pa.int64()),
                    pa.array(list(codes), type=pa.list_(pa.int32())),
                ],
                schema=out_schema,
            )

    return points.select("vec_id", "emb").mapInArrow(
        enc, "vec_id bigint, codes array<int>"
    )


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    m: int = PQ_M,
    codes_k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """End-to-end PQ ANN: train → encode → ADC top-k for the standard
    query batch (first N_QUERIES vectors, like the other ANN paths).

    ADC: each query's exact subvectors against each codebook give an
    M×K table of partial squared distances, computed DRIVER-side from
    the collected query batch (N_QUERIES×M×K floats — bounded), then
    folded in as a literal; a database vector's approximate distance
    is the sum of its M looked-up entries — the scan touches ONLY the
    4-byte code arrays. Output ranks ascending by approximate distance
    (squared L2), ties by neighbor id."""
    pts = km.embeddings(spark, sf_dir).select("vec_id", "emb")
    # dim from the memoized deterministic-init rows (same table) — the
    # separate .first() probe job it replaces ran every invocation
    dim = len(km.init_rows(spark, sf_dir)[0][2])
    codebooks = train_pq_codebooks(pts, dim, m, codes_k, iters)
    encoded = pq_encode(pts, codebooks).localCheckpoint()
    return pq_adc_score(spark, pts, encoded, codebooks, k)


def pq_adc_score(
    spark: SparkSession,
    pts: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 3,
) -> DataFrame:
    """ADC top-k of the standard query batch (first N_QUERIES vec_ids
    of ``pts``, exact vectors) against an already-encoded corpus — the
    query-serving half of :func:`pq_adc_topk`, reusable against a
    persisted code table."""
    q_rows = sorted(
        pts.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r.vec_id,
    )
    q_lut = local_rows_df(
        spark,
        [(int(q.vec_id), _adc_lut(q.emb, codebooks)) for q in q_rows],
        "q_id bigint, lut array<double>",
    )
    # ONE scan of the 4-byte-code table, broadcast nested loop against
    # the tiny LUT batch (cosine_topk's physical shape, but the scan
    # side is 128x narrower than the raw vectors)
    pairs = encoded.join(
        F.broadcast(q_lut), F.col("vec_id") != F.col("q_id")
    )
    return _adc_topk(pairs, len(codebooks), len(codebooks[0]), k)


def _adc_lut(vec, codebooks: list[list[list[float]]]) -> list[float]:
    """One query's flat M×K ADC lookup table: ``lut[sub*K + code]`` =
    squared L2 between the vector's ``sub``-th subvector and that
    code's centroid, folded sequentially over the subvector. ``vec``
    is the raw query (flat PQ) or its residual in a probed cell
    (IVF-PQ)."""
    ds = len(codebooks[0][0])
    lut = []
    for sub, book in enumerate(codebooks):
        sv = vec[sub * ds : (sub + 1) * ds]
        for c in book:
            lut.append(float(sum((a - b) * (a - b) for a, b in zip(sv, c))))
    return lut


def _adc_topk(pairs: DataFrame, m: int, codes_k: int, k: int) -> DataFrame:
    """ADC top-k over ``(vec_id, codes, q_id, lut)`` pairs: each pair's
    approximate squared L2 is its M LUT lookups summed left-to-right
    (same fold order as the HOF form this replaced — see _fold_add), one
    codegen'd expression over the 4-byte code array. Ranks ascending by
    distance, neighbor-id tie-break; ``(q_id, neighbor_id, rank,
    adc_dist)`` with adc_dist rounded 6 dp."""
    dist = _fold_add(
        [
            F.element_at(
                F.col("lut"),
                (
                    F.lit(sub * codes_k)
                    + F.element_at(F.col("codes"), sub + 1)
                    + 1
                ).cast("int"),
            )
            for sub in range(m)
        ]
    )
    return top_k_per_query(
        pairs.select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            dist.alias("adc_dist"),
        ),
        k,
        F.col("adc_dist").asc(),
        F.col("neighbor_id").asc(),
    ).select(
        "q_id",
        "neighbor_id",
        "rank",
        F.round("adc_dist", 6).alias("adc_dist"),
    )


def pq_reconstruction_mse(
    points: DataFrame, codebooks: list[list[list[float]]]
) -> float:
    """Mean squared reconstruction error of the PQ code over the
    corpus — the training-quality metric (should fall as iters/K grow,
    property-tested). Same numpy-block pass as training: per block,
    assign codes and accumulate squared reconstruction error; one
    treeReduce of (total, n)."""
    import numpy as np

    cb = np.asarray(codebooks)
    m, _k, ds = cb.shape

    def part(block, cb=cb, m=m, ds=ds):
        _ids, X = block
        codes = _codes_np(X, cb)
        total = 0.0
        for s in range(m):
            diff = X[:, s * ds : (s + 1) * ds] - cb[s][codes[:, s]]
            total += float((diff * diff).sum())
        return total, X.shape[0]

    blocks = km._numpy_blocks(points.select("vec_id", "emb"))
    total, n = blocks.map(part).treeReduce(
        lambda a, b: (a[0] + b[0], a[1] + b[1])
    )
    return total / n


# --- IVF-PQ: the composed vector-store layout (IVFADC) --------------------


def land_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    ncells: int | None = None,
    m: int = PQ_M,
    codes_k: int = PQ_K,
    iters: int = PQ_ITERS,
    cents: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Land the composed vector-store layout — IVFADC (Jégou, Douze,
    Schmid, TPAMI 2011): a coarse quantizer prunes WHERE to look
    (``cell=`` partition directories, as in ``similarity.
    land_ivf_index``), and product quantization shrinks WHAT is stored
    there — each cell holds only ``(vec_id, codes)``, 32-bit codes at
    the defaults, encoding the RESIDUAL x − centroid(cell) (the
    textbook IVFADC refinement: residuals concentrate around the
    origin, so one shared codebook quantizes them far better than raw
    vectors). At 100 TB the per-query read volume is
    (nprobe / ncells) × (codes / raw) of the corpus — both factors by
    LAYOUT: partition pruning supplies the first, the codes-only
    schema the second (the cells table simply has no embedding
    column to read).

    Layout under ``path``: ``cells/cell=<id>/`` with (vec_id, codes),
    ``centroids`` (ncells rows), ``codebooks`` ((sub, code, vec) rows,
    m×k of them). Residuals are computed by a small static codegen
    expression (centroid literal indexed by cell — no lambda HOFs),
    training/encoding ride the numpy-block machinery above.

    ``cents``/``codebooks`` pin an externally-chosen frozen quantizer
    and codebook set (skipping init/training) — the rebuild-equivalence
    hook for the append test, mirroring ``land_ivf_index_points``."""
    land_ivfpq_index_points(
        spark,
        km.embeddings(spark, sf_dir).select("vec_id", "emb"),
        path,
        ncells=ncells,
        m=m,
        codes_k=codes_k,
        iters=iters,
        cents=cents,
        codebooks=codebooks,
    )


def land_ivfpq_index_points(
    spark: SparkSession,
    pts: DataFrame,
    path: str,
    ncells: int | None = None,
    m: int = PQ_M,
    codes_k: int = PQ_K,
    iters: int = PQ_ITERS,
    cents: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    train_iters: int = 0,
) -> None:
    """:func:`land_ivfpq_index` over an explicit ``(vec_id, emb)``
    frame — the composable form an ingest pipeline feeds batch by
    batch: the cell-store land of ``similarity.land_ivf_index_points``
    (same quantizer choice, including the ``train_iters`` Lloyd
    refinement — residual PQ benefits doubly, since tighter cells mean
    smaller residuals and lower quantization error) with the rows
    encoded by :func:`_encode_cells`, codebooks trained on the
    residuals unless given."""
    if ncells is None:
        ncells = km.DEFAULT_K

    def encode(cells, cents):
        nonlocal codebooks
        coded, codebooks = _encode_cells(
            cells, cents, codebooks, m, codes_k, iters
        )
        return coded

    _land_cells(spark, pts, path, ncells, cents, train_iters, encode)
    # parameter tables land by similarity.swap_table: consumers gate on
    # their EXISTENCE (contract gates on codebooks; load_index_centroids
    # on centroids). Codebooks land LAST, after the cells and centroids:
    # their presence implies the whole land completed.
    swap_table(
        spark,
        path,
        "codebooks",
        [
            (s, c, [float(v) for v in codebooks[s][c]])
            for s in range(m)
            for c in range(codes_k)
        ],
        "sub int, code int, vec array<double>",
    )


def append_ivfpq_index(
    spark: SparkSession, new_points: DataFrame, path: str
) -> None:
    """Grow the landed IVF-PQ index by one batch: quantize and encode
    against the index's FROZEN coarse centroids AND frozen codebooks
    (both retrain on a schedule, never per insert — re-deriving either
    would silently re-cell or re-code the landed corpus), then append
    the (vec_id, codes) rows into their ``cell=`` directories.
    PRECONDITION: new vec_ids only, monotone across batches. Queries
    against the appended index equal a one-shot land of the union
    under the same frozen parameters (pinned in tests/test_pq.py).

    Replay-safe like ``similarity.append_ivf_index``: the batch's max
    vec_id is quantized driver-side to its one cell and that single
    partition directory is probed for the row — present means a prior
    attempt completed and the replay no-ops."""
    cents, codebooks = _load_ivfpq_params(spark, path)
    _append_cells(
        spark, new_points, path, cents,
        lambda cells, cents: _encode_cells(cells, cents, codebooks)[0],
    )


def _load_ivfpq_params(
    spark: SparkSession, path: str
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """(centroids, codebooks) of a landed IVF-PQ index — the one copy
    of the codebook-table reconstruction, shared by the query and
    append paths. Completes a crash inside the codebooks rename window
    of :func:`land_ivfpq_index_points` (``similarity.complete_swap``) —
    by landing order, cells and centroids already landed when the
    codebooks temp write finished."""
    cents = load_index_centroids(spark, path)
    cb_rows = spark.read.parquet(complete_swap(path, "codebooks")).collect()
    m = 1 + max(r.sub for r in cb_rows)
    codes_k = 1 + max(r.code for r in cb_rows)
    codebooks: list[list] = [[None] * codes_k for _ in range(m)]
    for r in cb_rows:
        codebooks[r.sub][r.code] = list(r.vec)
    return cents, codebooks


def _encode_cells(
    cells: DataFrame,
    cents: list[list[float]],
    codebooks: list[list[list[float]]] | None,
    m: int = PQ_M,
    codes_k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """IVF-PQ's ``encode`` step of the cell store: ``(vec_id, emb,
    cell)`` rows → ``(vec_id, codes, cell)``, the codes quantizing the
    RESIDUAL x − ``cents[cell]``. The residuals are checkpointed once
    (read by the encode and the cell join); with ``codebooks`` None (a
    fresh land) they are first trained on them (``m``, ``codes_k``,
    ``iters`` as in :func:`train_pq_codebooks`). Returns the coded rows
    and the codebooks used."""
    res = cells.select(
        "vec_id", "cell", _residual_col(cents).alias("emb")
    ).localCheckpoint()
    if codebooks is None:
        codebooks = train_pq_codebooks(
            res.select("vec_id", "emb"), len(cents[0]), m, codes_k, iters
        )
    coded = pq_encode(res.select("vec_id", "emb"), codebooks).join(
        res.select("vec_id", "cell"), "vec_id"
    )
    return coded, codebooks


def _residual_col(cents: list[list[float]]) -> Column:
    """x − centroid(cell) as one static codegen projection: the
    centroid table folds in as a literal indexed by the row's cell —
    ncells×dim literal doubles, far below the expression sizes that
    break janino (the per-CODE unroll _codes_np replaced was m×k×ds
    DISTANCES, not one subtraction).

    Optimization r14 (guide §3.3/§5): one parsed ``zip_with`` over a
    single centroid literal instead of ``dim`` unrolled element_at
    subtractions each re-embedding the ncells×dim literal — the tree
    shrinks ~dim×, plan construction is one py4j call, and the
    elementwise subtraction (no fold) stays bit-identical."""
    from mapreducekmean_spark.functions.vector import centroid_literal_sql

    return F.expr(
        f"zip_with(emb, element_at({centroid_literal_sql(cents)}, "
        "CAST(cell + 1 AS INT)), (x, y) -> x - y)"
    )


def ann_ivfpq_indexed(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int = 3,
    nprobe: int | None = None,
    qs: DataFrame | None = None,
    probe_rows: list | None = None,
) -> DataFrame:
    """Query the landed IVF-PQ index: probe each query's ``nprobe``
    nearest cells (same probe kernel as the raw-IVF path), build the
    per-(query, cell) ADC lookup table DRIVER-side from the query's
    RESIDUAL in that cell (n_queries × nprobe × m×k floats — bounded),
    and score only the probed cells' code rows — the scan is partition-
    pruned AND codes-only by layout. Ranks ascending by approximate
    squared L2 (residual ADC), ties by neighbor id; output shape
    matches :func:`pq_adc_topk`. ``qs`` overrides the default
    fixture-derived query batch with an explicit ``(q_id, q_emb)``
    frame (bounded — its probed cells collect driver-side), the form
    an ingest-maintained index is queried with. ``probe_rows`` lets a
    caller that already ran the probe kernel (the refine tier, which
    needs the probed cell set for its own raw-store pruning) hand over
    the collected ``(q_id, cell, q_emb)`` rows so the kernel runs
    exactly once per serve."""
    if nprobe is None:
        nprobe = N_PROBE
    cents, codebooks = _load_ivfpq_params(spark, path)
    if qs is None:
        qs, _ = _queries_and_points(spark, sf_dir)
    if probe_rows is None:
        q_cells = _probe_cells(qs, cents, len(cents), nprobe)
        probe_rows = q_cells.collect()  # ≤ n_queries × nprobe — bounded
    q_lut = local_rows_df(
        spark,
        [
            (
                int(r.q_id),
                int(r.cell),
                _adc_lut(
                    [a - b for a, b in zip(r.q_emb, cents[r.cell])],
                    codebooks,
                ),
            )
            for r in probe_rows
        ],
        "q_id bigint, cell bigint, lut array<double>",
    )
    probed = sorted({int(r.cell) for r in probe_rows})
    cells = (
        spark.read.parquet(f"{path}/cells")
        .filter(F.col("cell").isin(probed))
        .select("vec_id", "codes", F.col("cell").cast("bigint").alias("cell"))
    )
    pairs = cells.join(F.broadcast(q_lut), "cell").filter(
        F.col("vec_id") != F.col("q_id")
    )
    return _adc_topk(pairs, len(codebooks), len(codebooks[0]), k)


def pq_adc_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    m: int = PQ_M,
    codes_k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Recall@k of the flat-PQ ADC tier against the EXACT squared-L2
    top-k — the retrieval-quality number a user sizing a compressed
    store needs next to ``pq_reconstruction_mse``'s training-quality
    number. The baseline is L2 (the metric ADC approximates), so the
    measurement isolates quantization loss: recall < 1 here is the
    price of 32-byte→4-byte compression, nothing else.

    Output per query: ``(q_id, n_hit, k, recall)`` — integer hit
    counts, one IEEE division (the ``ann_recall`` discipline).
    Sensitivity contracts pinned in tests/test_pq.py: recall is
    non-decreasing as ``m`` grows (finer subquantizers), and the
    exact-rerank bound caps every compressed tier."""
    approx = pq_adc_topk(spark, sf_dir, k=k, m=m, codes_k=codes_k,
                         iters=iters)
    exact = l2_topk(spark, sf_dir, k=k)
    return recall_vs_exact(exact, approx, k)


def ivfpq_recall(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    k: int = 3,
    nprobe: int | None = None,
) -> DataFrame:
    """Recall@k of the landed IVF-PQ (IVFADC) store against the exact
    squared-L2 top-k — the end-to-end number that prices BOTH losses a
    served compressed index takes: cell pruning (only ``nprobe`` cells
    scanned) and PQ quantization (4-byte codes). Compare with
    ``pq_adc_recall`` (quantization only) to attribute a recall drop to
    probing vs compression, and with ``ann_recall`` (pruning only, raw
    vectors) to size ``nprobe``. Monotone-in-nprobe and the
    exact-rerank upper bound are pinned in tests/test_pq.py."""
    approx = ann_ivfpq_indexed(spark, sf_dir, path, k=k, nprobe=nprobe)
    exact = l2_topk(spark, sf_dir, k=k)
    return recall_vs_exact(exact, approx, k)


#: default ADC-preselect size for the exact-refine tier: candidates per
#: query the compressed scan hands to the raw re-rank (FAISS's
#: RefineFlat k_factor idea: m_cand = k_factor × k; 10 at k=3 buys most
#: of the recall the compressed tier lost at ~m_cand raw-row reads per
#: query).
REFINE_M = 10


def ivfpq_refined_topk(
    spark: SparkSession,
    sf_dir: str,
    pq_path: str,
    raw_path: str,
    k: int = 3,
    m_cand: int = REFINE_M,
    nprobe: int | None = None,
    qs: DataFrame | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """The IVF-PQ serve path with an EXACT-REFINE tier — the standard
    way a compressed store buys its recall back (Jégou, Douze, Schmid
    TPAMI 2011 §V's re-ranking stage; FAISS ``IndexRefineFlat``): the
    ADC scan over the probed cells preselects ``m_cand`` candidates
    per query (cheap — codes-only, partition-pruned), and only those
    ≤ queries × m_cand rows are re-scored EXACTLY against their raw
    vectors, read from the PAIRED raw-IVF store's same ``cell=``
    partition directories. The expensive exactness is paid on a
    candidate set whose size is independent of the corpus — at 100 TB
    the raw store is touched for ~m_cand rows per query while the
    full-width scan stays on the 28.6×-smaller codes.

    PAIRING PRECONDITION (checked, refused otherwise): both stores
    must be landed under the SAME coarse centroids — candidate rows
    then live in probed cells of the raw store too, so the raw read is
    partition-pruned to exactly the probed directories. Re-land one
    side with ``cents`` pinned to the other's to pair them.

    Output ``(q_id, neighbor_id, rank, dist)`` — rank ascending by
    EXACT squared L2 (``functions.vector.sq_dist``, the sequential
    fold the DuckDB twin's ``list_sum`` replays bit-identically), ties
    by neighbor id, dist rounded 6 dp. Refined recall ≥ the ADC tier's
    at equal nprobe and is non-decreasing in ``m_cand`` (pinned in
    tests/test_pq.py).

    ``checkpoint=False`` skips the two execution-sharing
    localCheckpoints so the full lazy plan stays inspectable (the
    plan-pin tests read the partition-pruned scans off it); the
    coverage guard then re-executes the probed scans — keep the
    default in any serve path."""
    pairs = _refine_pairs(
        spark, sf_dir, pq_path, raw_path, m_cand, nprobe, qs, checkpoint,
        "ivfpq_refined_topk",
    )
    return top_k_per_query(
        pairs, k, F.col("dist").asc(), F.col("neighbor_id").asc()
    ).select("q_id", "neighbor_id", "rank", F.round("dist", 6).alias("dist"))


def _refine_pairs(
    spark: SparkSession,
    sf_dir: str,
    pq_path: str,
    raw_path: str,
    m_cand: int,
    nprobe: int | None,
    qs: DataFrame | None,
    checkpoint: bool,
    who: str,
) -> DataFrame:
    """The exact-refine tier's candidate set, shared by
    :func:`ivfpq_refined_topk` and :func:`ivfpq_refined_mcand_curve`:
    ``(q_id, neighbor_id, pre_rank, dist)`` — each query's ADC
    top-``m_cand`` preselect with its ADC rank, re-scored by EXACT
    squared L2 against the paired raw store. Refuses unpaired stores
    (table-level drift) and, after the join, any candidate without a
    raw row (row-level drift); ``who`` names the caller in both
    messages."""
    from mapreducekmean_spark.functions.vector import sq_dist

    if nprobe is None:
        nprobe = N_PROBE
    cents, _codebooks = _load_ivfpq_params(spark, pq_path)
    raw_cents = load_index_centroids(spark, raw_path)
    if [[float(v) for v in c] for c in raw_cents] != [
        [float(v) for v in c] for c in cents
    ]:
        raise ValueError(
            f"{who} needs PAIRED indexes: the raw-IVF store "
            f"at {raw_path!r} is landed under different coarse centroids "
            f"than the IVF-PQ store at {pq_path!r}, so candidate rows "
            "would not sit in the probed raw partitions. Re-land one side "
            "with cents pinned to the other's "
            "(land_ivf_index_points(..., cents=...) / "
            "land_ivfpq_index_points(..., cents=...))."
        )
    if qs is None:
        qs, _ = _queries_and_points(spark, sf_dir)
    # the probe kernel runs ONCE per serve: its collected rows feed both
    # the ADC preselect's LUT construction and this tier's own raw-store
    # partition pruning (≤ queries × nprobe driver rows — bounded).
    probe_rows = _probe_cells(qs, cents, len(cents), nprobe).collect()
    # stage 1 — compressed preselect: ADC top-m_cand off the codes-only
    # partition-pruned scan (all the heavy lifting; see ann_ivfpq_indexed).
    # localCheckpoint (bounded: queries × m_cand rows) so the scan
    # executes once — the coverage guard below and the returned plan
    # would otherwise each re-run it (the corpus-proportional stage).
    cand = ann_ivfpq_indexed(
        spark, sf_dir, pq_path, k=m_cand, nprobe=nprobe, qs=qs,
        probe_rows=probe_rows,
    ).select("q_id", "neighbor_id", F.col("rank").alias("pre_rank"))
    if checkpoint:
        cand = cand.localCheckpoint()
    # stage 2 — exact re-score: the candidates' raw vectors live in the
    # probed cells of the paired store (shared quantizer), so the raw
    # scan opens exactly the probed directories; the candidate set is
    # bounded (queries × m_cand), hence broadcast. localCheckpoint again
    # (bounded) so the probed raw-cell scan + join executes once, shared
    # by the coverage count and the caller's ranking.
    probed = sorted({int(r.cell) for r in probe_rows})
    raw = (
        spark.read.parquet(f"{raw_path}/cells")
        .filter(F.col("cell").isin(probed))
        .select(F.col("vec_id").alias("neighbor_id"), "emb")
    )
    pairs = (
        raw.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qs.select("q_id", "q_emb")), "q_id")
        .withColumn("dist", sq_dist(F.col("q_emb"), F.col("emb")))
        .select("q_id", "neighbor_id", "pre_rank", "dist")
    )
    if checkpoint:
        pairs = pairs.localCheckpoint()
    # candidate-coverage check: every preselected candidate must find
    # its raw row in the probed directories. A shortfall means the
    # stores drifted (e.g. one side rebalanced without the other —
    # the centroid check above catches table-level drift, this catches
    # row-level drift) and silently refining the covered subset would
    # quietly degrade the result. Both counts read the checkpoints.
    (cov_row,) = (
        cand.agg(F.count(F.lit(1)).alias("_cand"))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("_cov")))
        .collect()
    )  # ONE job for both coverage counts (crossJoin of 1-row aggregates)
    n_cand, n_cov = int(cov_row["_cand"]), int(cov_row["_cov"])
    if n_cov != n_cand:
        raise ValueError(
            f"{who}: only {n_cov} of {n_cand} preselected "
            f"candidates found raw rows in the probed cells of "
            f"{raw_path!r} — the stores have drifted row-level. "
            "Restore pairing by re-landing the raw side under the PQ "
            "store's centroid table (land_ivf_index_points(..., "
            "cents=load_index_centroids(spark, pq_path)))."
        )
    return pairs


def ivfpq_refined_recall(
    spark: SparkSession,
    sf_dir: str,
    pq_path: str,
    raw_path: str,
    k: int = 3,
    m_cand: int = REFINE_M,
    nprobe: int | None = None,
) -> DataFrame:
    """Recall@k of the refined serve path against the exact squared-L2
    top-k — the number that shows what the exact-refine tier bought
    back: quantization loss is GONE from the candidate ranking (only
    cell pruning and the preselect cut remain), so refined recall ≥
    ``ivfpq_recall`` at equal nprobe (pinned in tests/test_pq.py,
    together with monotonicity in ``m_cand``)."""
    approx = ivfpq_refined_topk(
        spark, sf_dir, pq_path, raw_path, k=k, m_cand=m_cand, nprobe=nprobe
    )
    exact = l2_topk(spark, sf_dir, k=k)
    return recall_vs_exact(exact, approx, k)


def ivfpq_refined_mcand_curve(
    spark: SparkSession,
    sf_dir: str,
    pq_path: str,
    raw_path: str,
    k: int = 3,
    m_cands: tuple = (3, 10, 50),
    nprobe: int | None = None,
) -> DataFrame:
    """The m_cand SIZING CURVE for the exact-refine tier — recall@k at
    several preselect budgets in one result, the compressed-store twin
    of ``similarity.ann_recall_curve``'s nprobe curve: m_cand is THE
    recall lever for an IVF-PQ store once the home cells are probed
    (measured at 5M×64: refined recall 0.12 → 0.40 → 0.72 over
    m_cand 10/50/200 while nprobe past the true cells bought nothing —
    SCALE.md r11). One row per level:
    ``(m_cand, n_queries, n_hit, k, recall)``, integer totals, one
    IEEE division.

    Cost shape — the reason this is one function and not a loop over
    ``ivfpq_refined_recall``: the ADC ranking at a smaller m_cand is a
    PREFIX of the ranking at a larger one, so the curve runs the
    probed-cells ADC scan and the raw exact re-rank ONCE at
    max(m_cands) (both checkpointed, bounded at queries × max_m rows)
    and each level is a driver-scale prefix cut + re-rank window over
    that shared candidate list. The exact baseline is computed once
    (the priced measurement). Levels are non-decreasing in m_cand
    (candidate superset — pinned in tests/test_pq.py)."""
    pairs = _refine_pairs(
        spark, sf_dir, pq_path, raw_path, max(int(m) for m in m_cands),
        nprobe, None, True, "ivfpq_refined_mcand_curve",
    )
    exact = (
        l2_topk(spark, sf_dir, k=k)
        .select("q_id", "neighbor_id")
        .localCheckpoint()
    )
    n_q = exact.select("q_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries")
    )
    return _prefix_cut_curve(
        pairs,
        exact,
        n_q,
        level_col="m_cand",
        levels=[int(m) for m in m_cands],
        in_level=lambda mc: F.col("pre_rank") <= mc,
        order=[F.col("dist").asc(), F.col("neighbor_id").asc()],
        id_col="neighbor_id",
        k=k,
    )


def rebalance_ivfpq_cells(
    spark: SparkSession,
    path: str,
    raw,
    max_cell_rows: int | None = None,
    train_iters: int = 2,
) -> dict[str, int]:
    """Split oversized cells of a landed IVF-PQ index in place — the
    cell-store rebalance of ``similarity.rebalance_ivf_cells`` (same
    split, tombstones, crash-safe ordering and stats), with the moved
    rows re-encoded. A PQ cell's codes encode the RESIDUAL
    x − centroid(cell), so moving rows to new sub-cells cannot reuse
    their codes: the moved rows' residuals change basis. The split is
    therefore computed on RAW vectors from ``raw`` — the paired
    raw-IVF store's path (same coarse centroids; the rows of hot cell
    c are read from exactly its ``cell=c`` directory, partition-
    pruned) or a caller-supplied ``(vec_id, emb)`` DataFrame — and the
    moved rows are RE-ENCODED against their new sub-centroids with the
    index's FROZEN codebooks (:func:`_encode_cells`). Untouched cells
    keep their ids, codes, and files; cost scales with the hot cells'
    row counts. A raw source that does not cover a hot cell is refused.

    Post-rebalance the layout equals a FRESH
    ``land_ivfpq_index_points`` under (rebalanced centroids, frozen
    codebooks) — codes, cells, and ids all — and serving on cold cells
    is bit-identical before/after; both pinned in tests/test_pq.py.

    A rebalance changes THIS store's centroid table, so a previously
    PAIRED raw store (the refine tier's) drifts: ``ivfpq_refined_topk``
    refuses the pair until the raw side is re-landed under the
    rebalanced table (``land_ivf_index_points(..., cents=
    load_index_centroids(spark, pq_path))``) — the maintenance
    lifecycle is pinned end-to-end in tests/test_pq.py.

    Returns ``{"split_cells": n, "new_cells": m, "passes": p}``
    (passes = Lloyd splits run, counting re-splits of oversized
    sub-cells)."""
    import os

    if max_cell_rows is None:
        max_cell_rows = SEM_DUP_MAX_CELL
    if not os.path.exists(f"{path}/codebooks"):
        raise ValueError(
            "rebalance_ivfpq_cells needs an IVF-PQ index (no codebooks "
            f"table under {path!r}); for a raw IVF index use "
            "similarity.rebalance_ivf_cells."
        )
    cents, codebooks = _load_ivfpq_params(spark, path)
    return _rebalance_cells(
        spark, path, cents, raw, max_cell_rows, train_iters,
        "rebalance_ivfpq_cells",
        lambda cells, cents: _encode_cells(cells, cents, codebooks)[0],
    )
