"""Persisted IVF ANN index: landed-vs-in-session equivalence and the
partition-pruning plan pin — the third member of the landed-index
family (BM25 term-bucketed postings, dedup band-bucketed signatures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducekmean_spark.operators.similarity import (
    ann_ivf_indexed,
    append_ivf_index,
    ivf_topk,
    land_ivf_index,
)


def test_ivf_indexed_matches_in_session_path(spark, sf_oracle, tmp_path):
    """Same centroids, same probes, same scoring — the landed layout is
    a storage change, never a semantics change."""
    path = str(tmp_path / "ivf")
    land_ivf_index(spark, sf_oracle, path)
    direct = sorted(
        tuple(r) for r in ivf_topk(spark, sf_oracle).collect()
    )
    indexed = sorted(
        tuple(r) for r in ann_ivf_indexed(spark, sf_oracle, path).collect()
    )
    assert indexed == direct and indexed


def test_ivf_indexed_scan_prunes_to_probed_cells(spark, sf_oracle, tmp_path):
    """nprobe must be PHYSICAL: with ncells sized so the query batch
    cannot cover the whole index (25 cells, 10 queries x 2 probes = at
    most 20), the cells scan plans with a partition IN-filter listing
    ONLY the probed cell values — strictly fewer than ncells, so whole
    directories are never opened."""
    import re

    from mapreducekmean_spark.operators.similarity import (
        N_PROBE,
        N_QUERIES,
    )
    from mapreducekmean_spark.plans import formatted_plan

    ncells = 25
    path = str(tmp_path / "ivf")
    land_ivf_index(spark, sf_oracle, path, ncells=ncells)
    df = ann_ivf_indexed(spark, sf_oracle, path)
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[cell[^\]]*\]", plan)
    assert m, plan
    # Spark renders the pushed value list as `IN (a,b,...)` or, past a
    # size threshold, `INSET a, b, ...` — count the numeric values in
    # either form (the leading `cell#NN` attribute id is cut first).
    values_part = m.group(0).split("isnotnull")[0]
    values_part = re.sub(r"cell#\d+", "cell", values_part)
    probed = re.findall(r"\b\d+\b", values_part)
    assert 0 < len(probed) <= N_QUERIES * N_PROBE
    assert len(probed) < ncells  # pruning is real, not a full cover


def test_ivf_appended_index_matches_frozen_centroid_scoring(
    spark, sf_oracle, tmp_path
):
    """Append under the frozen quantizer: land half the vectors (the
    centroids come from that half), append the rest, and the indexed
    query must equal scoring the WHOLE corpus against those same
    frozen centroids — the retrain-on-a-schedule contract, where an
    append never re-cells landed vectors."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        _probe_cells,
        _queries_and_points,
        _score_probed_cells,
        append_ivf_index,
        land_ivf_index,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    cut = int(pts.approxQuantile("vec_id", [0.5], 0.0)[0])
    path = str(tmp_path / "ivf")

    # land on the first half only — centroids are frozen from it
    import os

    half_dir = str(tmp_path / "halffixture")
    os.makedirs(half_dir, exist_ok=True)
    # reuse the fixture reader path by materializing a half-sized
    # embeddings.parquet with the fixture schema
    spark.read.parquet(f"{sf_oracle}/embeddings.parquet").filter(
        F.col("vec_id") < cut
    ).write.mode("overwrite").parquet(f"{half_dir}/embeddings.parquet")
    land_ivf_index(spark, half_dir, path)
    append_ivf_index(spark, pts.filter(F.col("vec_id") >= cut), path)

    from mapreducekmean_spark.operators.similarity import ann_ivf_indexed

    got = sorted(
        tuple(r) for r in ann_ivf_indexed(spark, sf_oracle, path).collect()
    )

    cents = [
        r.centroid
        for r in sorted(
            spark.read.parquet(f"{path}/centroids").collect(),
            key=lambda r: r.cell,
        )
    ]
    qs, _ = _queries_and_points(spark, sf_oracle)
    bucketed = km.assign(pts, cents).select(
        "vec_id", "emb", F.col("cluster_id").alias("cell")
    )
    expect = sorted(
        tuple(r)
        for r in _score_probed_cells(
            bucketed, _probe_cells(qs, cents, len(cents), 2), 3
        ).collect()
    )
    assert got == expect and got


def test_ivf_compaction_keeps_results_and_pruning(
    spark, sf_oracle, tmp_path
):
    """compact_ivf_index must merge each cell directory's append-grown
    small files without changing anything a query can see: identical
    top-k, partition pruning (= nprobe) still in the plan, strictly
    fewer files."""
    import os
    import re

    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        compact_ivf_index,
    )
    from mapreducekmean_spark.plans import formatted_plan

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    cut = int(pts.approxQuantile("vec_id", [0.5], 0.0)[0])
    path = str(tmp_path / "ivf")
    half_dir = str(tmp_path / "halffixture")
    os.makedirs(half_dir, exist_ok=True)
    spark.read.parquet(f"{sf_oracle}/embeddings.parquet").filter(
        F.col("vec_id") < cut
    ).write.mode("overwrite").parquet(f"{half_dir}/embeddings.parquet")
    land_ivf_index(spark, half_dir, path)
    append_ivf_index(spark, pts.filter(F.col("vec_id") >= cut), path)

    before = sorted(
        tuple(r) for r in ann_ivf_indexed(spark, sf_oracle, path).collect()
    )

    def n_files():
        return sum(
            1
            for _r, _d, files in os.walk(f"{path}/cells")
            for f in files
            if not f.startswith(("_", "."))
        )

    files_before = n_files()
    stats = compact_ivf_index(spark, path)
    assert stats["files_after"] < stats["files_before"] == files_before
    assert n_files() == stats["files_after"]

    after_df = ann_ivf_indexed(spark, sf_oracle, path)
    after = sorted(tuple(r) for r in after_df.collect())
    assert after == before and after
    plan = formatted_plan(after_df)
    assert re.search(r"PartitionFilters: \[cell", plan), plan


def test_ivf_dpp_variant_matches_literal_path_and_prunes(
    spark, sf_oracle, tmp_path
):
    """The join-based probe (dynamic partition pruning) must return
    exactly what the collected-literal path returns, and its plan must
    carry the dynamicpruningexpression partition filter — executor-side
    pruning with no cell id through the driver."""
    from mapreducekmean_spark.operators.similarity import (
        ann_ivf_indexed_dpp,
    )
    from mapreducekmean_spark.plans import formatted_plan

    path = str(tmp_path / "ivf")
    land_ivf_index(spark, sf_oracle, path, ncells=25)
    literal = sorted(
        tuple(r) for r in ann_ivf_indexed(spark, sf_oracle, path).collect()
    )
    dpp_df = ann_ivf_indexed_dpp(spark, sf_oracle, path)
    dpp = sorted(tuple(r) for r in dpp_df.collect())
    assert dpp == literal and dpp
    plan = formatted_plan(dpp_df)
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_ivf_trained_quantizer_balances_clustered_cells(spark, tmp_path):
    """train_iters: on a CLUSTERED corpus (4 tight, well-separated
    clusters) the raw k-sample quantizer lands skewed cells — multiple
    samples fall in one cluster, so one Voronoi cell swallows several
    clusters and the nprobe/ncells read-volume bound breaks. A few
    Lloyd passes at land time restore balance. Also pins that the
    trained land is the same frozen-quantizer flow: a rebuild pinned
    to the trained centroids is row-identical."""
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
    )

    # 1000 points in 4 tight clusters at (0,..), (100,..), (200,..),
    # (300,..) — deterministic, no RNG
    pts = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8), i -> "
            "CAST((id % 4) * 100 AS DOUBLE)"
            " + CAST((id * i) % 7 AS DOUBLE) / 10.0)"
        ).alias("emb"),
    ).localCheckpoint()

    def max_cell_frac(path):
        counts = [
            r.n
            for r in spark.read.parquet(f"{path}/cells")
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        return max(counts) / sum(counts)

    raw = str(tmp_path / "raw")
    land_ivf_index_points(spark, pts, raw, ncells=4)
    trained = str(tmp_path / "trained")
    land_ivf_index_points(spark, pts, trained, ncells=4, train_iters=5)

    assert max_cell_frac(trained) <= max_cell_frac(raw)
    # 4 clusters x 4 trained cells: balance must be exact on this data
    assert max_cell_frac(trained) == 0.25

    # the trained land is the ordinary frozen-quantizer flow
    cents = [
        r.centroid
        for r in sorted(
            spark.read.parquet(f"{trained}/centroids").collect(),
            key=lambda r: r.cell,
        )
    ]
    rb = str(tmp_path / "rb")
    land_ivf_index_points(spark, pts, rb, ncells=4, cents=cents)
    a = sorted(
        tuple(r) for r in spark.read.parquet(f"{trained}/cells").collect()
    )
    b = sorted(
        tuple(r) for r in spark.read.parquet(f"{rb}/cells").collect()
    )
    assert a == b


def test_broadcast_scoring_tail_matches_join_tail(spark, sf_oracle):
    """_score_probed_cells_bc (query matrices broadcast, pairs expanded
    inside numpy — the serving tail for bounded batches) must be
    BIT-IDENTICAL to the join tail on the same probe frame: same pair
    set, same sequential-dimension IEEE fold, same tie-breaks."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        _probe_cells,
        _queries_and_points,
        _score_probed_cells,
        _score_probed_cells_bc,
    )

    qs, pts = _queries_and_points(spark, sf_oracle)
    cents = km.collect_centroids(
        km.deterministic_init(km.embeddings(spark, sf_oracle), 8)
    )
    cells = km.assign(pts, cents).select(
        "vec_id", "emb", F.col("cluster_id").alias("cell")
    )
    q_cells = _probe_cells(qs, cents, 8, 2).localCheckpoint()
    a = sorted(
        tuple(r) for r in _score_probed_cells(cells, q_cells, 3).collect()
    )
    b = sorted(
        tuple(r) for r in _score_probed_cells_bc(cells, q_cells, 3).collect()
    )
    assert a == b and a


def _sem_union_restricted(spark, sf_dir, cents, split):
    """Ground truth for the delta contract: the full in-session
    SemDeDup under the given frozen quantizer, restricted to the
    high-id half."""
    from mapreducekmean_spark.operators.similarity import semantic_dedup

    return {
        (r.vec_id, r.cell, r.kept, r.dup_of)
        for r in semantic_dedup(spark, sf_dir, cents=cents).collect()
        if r.vec_id >= split
    }


def test_semantic_dedup_delta_equals_full_run(spark, sf_oracle, tmp_path):
    """The batch≡full contract, over TWO sequential batches with an
    append between them: land the index over the low-id half, score
    the third quarter, append it, score the fourth quarter — the
    union of delta verdicts must equal the one-shot full run under
    the same frozen quantizer restricted to the high half, bit-exact
    (shared _sem_dup_of kernel both sides)."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        append_ivf_index,
        land_ivf_index_points,
        semantic_dedup_delta,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    mx = pts.agg(F.max("vec_id")).collect()[0][0]
    split, q3 = (mx + 1) // 2, (mx + 1) * 3 // 4
    cents = km.collect_centroids(km.deterministic_init(pts, km.DEFAULT_K))
    path = str(tmp_path / "semivf")
    land_ivf_index_points(
        spark, pts.filter(F.col("vec_id") < split), path, cents=cents
    )
    b1 = pts.filter((F.col("vec_id") >= split) & (F.col("vec_id") < q3))
    b2 = pts.filter(F.col("vec_id") >= q3)
    got = {
        (r.vec_id, r.cell, r.kept, r.dup_of)
        for r in semantic_dedup_delta(spark, b1, path).collect()
    }
    append_ivf_index(spark, b1, path)
    got |= {
        (r.vec_id, r.cell, r.kept, r.dup_of)
        for r in semantic_dedup_delta(spark, b2, path).collect()
    }
    assert got == _sem_union_restricted(spark, sf_oracle, cents, split)
    assert any(not k for (_v, _c, k, _d) in got)  # fixture has dups


def test_semantic_dedup_delta_replay_after_append_is_identical(
    spark, sf_oracle, tmp_path
):
    """A crashed caller that appended the batch before recording
    verdicts re-scores it on restart: the landed copies of the batch
    ids are anti-joined out, so the replay verdicts equal the
    originals."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        append_ivf_index,
        land_ivf_index_points,
        semantic_dedup_delta,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    mx = pts.agg(F.max("vec_id")).collect()[0][0]
    split = (mx + 1) // 2
    path = str(tmp_path / "semivf")
    land_ivf_index_points(
        spark, pts.filter(F.col("vec_id") < split), path
    )
    batch = pts.filter(F.col("vec_id") >= split)
    first = sorted(
        tuple(r) for r in semantic_dedup_delta(spark, batch, path).collect()
    )
    append_ivf_index(spark, batch, path)
    replay = sorted(
        tuple(r) for r in semantic_dedup_delta(spark, batch, path).collect()
    )
    assert replay == first


def test_semantic_dedup_delta_guards(spark, sf_oracle, tmp_path):
    """All three refusals fire with actionable messages: an id
    collision (same id, different payload — NOT a replay), genuinely
    interleaved ids (a new batch id below a landed cellmate), and an
    oversized combined cell."""
    import pytest

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
        semantic_dedup_delta,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    mx = pts.agg(F.max("vec_id")).collect()[0][0]
    split = (mx + 1) // 2
    path = str(tmp_path / "semivf")
    land_ivf_index_points(
        spark,
        pts.filter((F.col("vec_id") < split) & (F.col("vec_id") != split - 2)),
        path,
    )
    # id collision: shifted ids reuse landed id values with other
    # rows' embeddings
    bad = pts.filter(F.col("vec_id") >= split - 10).withColumn(
        "vec_id", F.col("vec_id") - F.lit(5)
    )
    with pytest.raises(ValueError, match="collision"):
        semantic_dedup_delta(spark, bad, path)
    # genuine interleave, no id overlap: a NEW id (split-2 was never
    # landed) carrying the embedding of landed id split-1 — same cell
    # by identical assignment, below that cell's landed max
    emb_top = pts.filter(F.col("vec_id") == split - 1).collect()[0].emb
    interleaved = spark.createDataFrame(
        [(split - 2, list(emb_top))], "vec_id bigint, emb array<double>"
    )
    with pytest.raises(ValueError, match="monotone"):
        semantic_dedup_delta(spark, interleaved, path)
    with pytest.raises(ValueError, match="per-cell bound"):
        semantic_dedup_delta(
            spark, pts.filter(F.col("vec_id") >= split), path,
            max_cell_rows=3,
        )


def test_semantic_dedup_delta_scan_prunes_to_touched_cells(
    spark, sf_oracle, tmp_path
):
    """The delta's index read must be PHYSICAL partition pruning: with
    a tiny batch (few touched cells out of 25), the cells scan plans
    with a partition IN-filter strictly smaller than ncells. Pinned on
    `_landed_cells_scan` — the exact frame the operator checkpoints
    (the operator's own final plan shows the checkpoint RDD, not the
    scan that fed it) — plus an end-to-end run for the verdict shape."""
    import re

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        _landed_cells_scan,
        land_ivf_index_points,
        load_index_centroids,
        semantic_dedup_delta,
    )
    from mapreducekmean_spark.plans import formatted_plan

    ncells = 25
    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    mx = pts.agg(F.max("vec_id")).collect()[0][0]
    split = mx - 3  # 4-vector batch: at most 4 touched cells
    path = str(tmp_path / "semivf")
    land_ivf_index_points(
        spark, pts.filter(F.col("vec_id") < split), path, ncells=ncells
    )
    batch = pts.filter(F.col("vec_id") >= split)
    cents = load_index_centroids(spark, path)
    touched = sorted(
        int(r.cluster_id)
        for r in km.assign(batch, cents).select("cluster_id").distinct()
        .collect()
    )
    assert semantic_dedup_delta(spark, batch, path).count() == 4
    plan = formatted_plan(_landed_cells_scan(spark, path, touched))
    m = re.search(r"PartitionFilters: \[cell[^\]]*\]", plan)
    assert m, plan
    values_part = re.sub(r"cell#\d+", "cell",
                         m.group(0).split("isnotnull")[0])
    probed = re.findall(r"\b\d+\b", values_part)
    assert 0 < len(probed) <= 4
    assert len(probed) < ncells


def _land_hot(spark, sf_oracle, path):
    """Land the fixture embeddings under a deliberately bad quantizer:
    centroid 0 sits in the data, centroid 1 at 1e6 — every row lands in
    cell 0 (the hot cell)."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    dim = len(pts.take(1)[0]["emb"])
    cents = [[0.0] * dim, [1e6] * dim]
    land_ivf_index_points(spark, pts, path, cents=cents)
    return pts


def test_rebalance_splits_hot_cell_and_equals_fresh_land(
    spark, sf_oracle, tmp_path
):
    """The hot cell splits into bounded sub-cells; the retired id is
    tombstoned (+inf centroid, dense id space preserved); and the
    rebalanced cells table is row-identical to a FRESH land under the
    rebalanced centroid list — the rebuild-equivalence pin."""
    import math
    import os

    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
        load_index_centroids,
        rebalance_ivf_cells,
    )

    path = str(tmp_path / "ivf")
    pts = _land_hot(spark, sf_oracle, path)
    n = pts.count()
    res = rebalance_ivf_cells(spark, path, max_cell_rows=100)
    assert res["split_cells"] == 1 and res["new_cells"] >= 2

    cells = spark.read.parquet(f"{path}/cells")
    sizes = {
        int(r["cell"]): r["n"]
        for r in cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(sizes.values()) == n  # every row preserved
    assert max(sizes.values()) <= 100  # bound restored
    assert 0 not in sizes  # retired dir deleted
    assert not os.path.exists(f"{path}/cells/cell=0")
    cents = load_index_centroids(spark, path)
    assert math.isinf(cents[0][0])  # tombstone holds the dense slot
    assert len(cents) == 2 + res["new_cells"]

    # rebuild equivalence: fresh land under the rebalanced centroids
    path2 = str(tmp_path / "ivf2")
    land_ivf_index_points(spark, pts, path2, cents=cents)
    a = {
        (r.vec_id, r.cell)
        for r in cells.select("vec_id", "cell").collect()
    }
    b = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(f"{path2}/cells")
        .select("vec_id", "cell").collect()
    }
    assert a == b

    # idempotent: a second call finds nothing to split
    assert rebalance_ivf_cells(spark, path, max_cell_rows=100) == {
        "split_cells": 0,
        "new_cells": 0,
        "passes": 0,
    }


def test_rebalance_crash_windows_converge(spark, sf_oracle, tmp_path):
    """All three crash windows re-run to the same end state: orphan
    sub-cell dirs written before the centroid swap are cleaned up, the
    rename-window crash is completed by load_index_centroids, and a
    tombstoned-but-undeleted retired dir is removed on rerun."""
    import os
    import shutil

    from mapreducekmean_spark.operators.similarity import (
        load_index_centroids,
        rebalance_ivf_cells,
    )

    path = str(tmp_path / "ivf")
    _land_hot(spark, sf_oracle, path)

    # window 1: a crashed prior attempt left an unreferenced sub-cell
    # dir (id past the 2-row centroid table) — must be cleaned, and the
    # rerun must not double-count its rows
    orphan = f"{path}/cells/cell=57"
    os.makedirs(orphan)
    shutil.copy(
        next(
            os.path.join(f"{path}/cells/cell=0", f)
            for f in os.listdir(f"{path}/cells/cell=0")
            if f.endswith(".parquet")
        ),
        os.path.join(orphan, "orphan.parquet"),
    )
    res = rebalance_ivf_cells(spark, path, max_cell_rows=100)
    assert res["split_cells"] == 1
    assert not os.path.exists(orphan) or "cell=57" not in os.listdir(
        f"{path}/cells"
    )
    rows = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{path}/cells")
        .select("vec_id", "cell").collect()
    )

    # window 2: crash inside the centroid rename — load recovers
    os.rename(f"{path}/centroids", f"{path}/_centroids_new")
    cents = load_index_centroids(spark, path)
    assert os.path.exists(f"{path}/centroids")

    # window 3: a tombstoned id whose dir was never deleted — recreate
    # cell=0 (its centroid is the tombstone) and rerun: cleanup removes
    # it and the cells table is unchanged
    ghost = f"{path}/cells/cell=0"
    os.makedirs(ghost)
    with open(os.path.join(ghost, "junk.parquet"), "wb") as f:
        f.write(b"")
    rebalance_ivf_cells(spark, path, max_cell_rows=100)
    assert not os.path.exists(ghost)
    assert sorted(
        tuple(r)
        for r in spark.read.parquet(f"{path}/cells")
        .select("vec_id", "cell").collect()
    ) == rows
    assert load_index_centroids(spark, path) == cents


def test_rebalance_refuses_identical_mass(spark, tmp_path):
    """A hot cell of byte-identical embeddings cannot be split by any
    quantizer — the operator must refuse with the exact-dedup hint, not
    loop or emit an oversized sub-cell silently."""
    import pytest

    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
        rebalance_ivf_cells,
    )

    pts = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("emb"),
    )
    path = str(tmp_path / "ivf")
    land_ivf_index_points(
        spark, pts, path, cents=[[1.0] * 8, [1e6] * 8]
    )
    with pytest.raises(ValueError, match="dedup"):
        rebalance_ivf_cells(spark, path, max_cell_rows=50)


def _resplit_frame(spark, n=200, bound=50, dim=8):
    """``n`` rows forming one cell whose FIRST split must leave a
    sub-cell over ``bound``: the k = 2·ceil(n/bound) md5-first vec_ids
    (Lloyd's deterministic seeds) are outliers on axis 0 — the nearest
    100 away, the rest 1000 apart — and every other row sits on a unit
    segment of axis 1, so all of them fall to the nearest outlier's
    sub-cell. Every row is distinct, so a re-split makes progress."""
    import hashlib
    import math

    k = 2 * math.ceil(n / bound)
    seeds = sorted(
        range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k]
    rank = {v: j for j, v in enumerate(seeds)}
    rows = []
    for i in range(n):
        emb = [0.0] * dim
        if i in rank:
            emb[0] = 100.0 + 1000.0 * rank[i]
        else:
            emb[1] = i / n
        rows.append((i, emb))
    return spark.createDataFrame(rows, "vec_id bigint, emb array<double>")


@pytest.mark.parametrize("store", ["raw", "pq"])
def test_rebalance_resplits_oversized_subcell(spark, tmp_path, store):
    """The re-split branch of the shared rebalance, on both stores: a
    first split that leaves a sub-cell over the bound splits it again
    before anything lands — more Lloyd splits than retired cells, the
    bound holds, every vec_id is kept exactly once, only the original
    cell is tombstoned, and a second call finds nothing to do."""
    import math

    from mapreducekmean_spark.operators.pq import (
        land_ivfpq_index_points,
        rebalance_ivfpq_cells,
    )
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
        load_index_centroids,
        rebalance_ivf_cells,
    )

    pts = _resplit_frame(spark)
    cents = [[0.0] * 8, [1e6] * 8]  # every row lands in cell 0
    path = str(tmp_path / "idx")
    if store == "raw":
        land_ivf_index_points(spark, pts, path, cents=cents)

        def rebalance():
            return rebalance_ivf_cells(spark, path, max_cell_rows=50)
    else:
        raw_path = str(tmp_path / "raw")
        land_ivfpq_index_points(spark, pts, path, cents=cents)
        land_ivf_index_points(spark, pts, raw_path, cents=cents)

        def rebalance():
            return rebalance_ivfpq_cells(
                spark, path, raw_path, max_cell_rows=50
            )

    res = rebalance()
    assert res["passes"] > res["split_cells"] == 1
    cells = spark.read.parquet(f"{path}/cells")
    sizes = [r["count"] for r in cells.groupBy("cell").count().collect()]
    assert max(sizes) <= 50
    ids = sorted(r.vec_id for r in cells.select("vec_id").collect())
    assert ids == list(range(200))
    after = load_index_centroids(spark, path)
    assert sum(math.isinf(c[0]) for c in after) == res["split_cells"]
    assert len(after) == len(cents) + res["new_cells"]
    assert rebalance() == {"split_cells": 0, "new_cells": 0, "passes": 0}


def test_semantic_dedup_delta_recovers_after_rebalance(
    spark, sf_oracle, tmp_path
):
    """The composition the oversize refusal points at: the delta
    refuses on the skewed index, rebalance splits the hot cell, and the
    delta then succeeds with verdicts equal to the one-shot
    semantic_dedup under the REBALANCED quantizer restricted to the
    batch."""
    import pytest

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
        load_index_centroids,
        rebalance_ivf_cells,
        semantic_dedup,
        semantic_dedup_delta,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    mx = pts.agg(F.max("vec_id")).collect()[0][0]
    split = (mx + 1) // 2
    dim = len(pts.take(1)[0]["emb"])
    path = str(tmp_path / "ivf")
    land_ivf_index_points(
        spark,
        pts.filter(F.col("vec_id") < split),
        path,
        cents=[[0.0] * dim, [1e6] * dim],
    )
    batch = pts.filter(F.col("vec_id") >= split)
    with pytest.raises(ValueError, match="rebalance_ivf_cells"):
        semantic_dedup_delta(spark, batch, path, max_cell_rows=100)
    rebalance_ivf_cells(spark, path, max_cell_rows=100)
    got = {
        (r.vec_id, r.cell, r.kept, r.dup_of)
        for r in semantic_dedup_delta(
            spark, batch, path, max_cell_rows=100
        ).collect()
    }
    cents = load_index_centroids(spark, path)
    want = {
        (r.vec_id, r.cell, r.kept, r.dup_of)
        for r in semantic_dedup(
            spark, sf_oracle, cents=cents, max_cell_rows=100
        ).collect()
        if r.vec_id >= split
    }
    assert got == want and got


def test_purge_ivf_keys_equals_fresh_land_of_remaining(
    spark, sf_oracle, tmp_path
):
    """Right-to-be-forgotten on the vector store: purge a key set, and
    the index must be row-identical to a FRESH land of the remaining
    vectors under the same frozen quantizer; serving returns the
    rebuilt index's exact results; a re-purge of the same (now absent)
    ids is a no-op; and an emptied cell's directory is removed."""
    import os

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        ann_ivf_indexed,
        land_ivf_index_points,
        load_index_centroids,
        purge_ivf_keys,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    path = str(tmp_path / "ivf")
    land_ivf_index_points(spark, pts, path)
    cents = load_index_centroids(spark, path)
    # purge every vector of ONE whole cell plus a few strays
    cells0 = spark.read.parquet(f"{path}/cells")
    some_cell = int(cells0.select("cell").distinct().take(1)[0]["cell"])
    doomed = sorted(
        r.vec_id
        for r in cells0.filter(F.col("cell") == some_cell)
        .select("vec_id").collect()
    ) + [
        r.vec_id
        for r in cells0.filter(F.col("cell") != some_cell)
        .select("vec_id").limit(3).collect()
    ]
    stats = purge_ivf_keys(spark, path, doomed)
    assert stats["rows_deleted"] == len(set(doomed))
    assert stats["removed_dirs"] >= 1
    assert not os.path.exists(f"{path}/cells/cell={some_cell}")

    path2 = str(tmp_path / "ivf2")
    land_ivf_index_points(
        spark, pts.filter(~F.col("vec_id").isin(doomed)), path2,
        cents=cents,
    )
    a = sorted(
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(f"{path}/cells")
        .select("vec_id", "cell").collect()
    )
    b = sorted(
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(f"{path2}/cells")
        .select("vec_id", "cell").collect()
    )
    assert a == b and a
    served_purged = sorted(
        tuple(r) for r in ann_ivf_indexed(spark, sf_oracle, path).collect()
    )
    served_rebuilt = sorted(
        tuple(r) for r in ann_ivf_indexed(spark, sf_oracle, path2).collect()
    )
    assert served_purged == served_rebuilt
    # idempotent re-purge
    again = purge_ivf_keys(spark, path, doomed)
    assert again["rows_deleted"] == 0


def test_purge_serves_ivfpq_and_rebalance_refuses_it(
    spark, sf_oracle, tmp_path
):
    """The compressed store's maintenance contract: purge_ivf_keys
    works on the IVF-PQ cells layout (codes are per-row payload —
    removal never re-cells), pinned by rebuild equivalence of the codes
    table AND of the served results; rebalance_ivf_cells REFUSES the
    same index (residual codes are centroid-relative; a re-cell would
    corrupt every moved code)."""
    import pytest

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import (
        ann_ivfpq_indexed,
        land_ivfpq_index_points,
    )
    from mapreducekmean_spark.operators.similarity import (
        purge_ivf_keys,
        rebalance_ivf_cells,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    path = str(tmp_path / "ivfpq")
    land_ivfpq_index_points(spark, pts, path)
    with pytest.raises(ValueError, match="RESIDUAL"):
        rebalance_ivf_cells(spark, path, max_cell_rows=10)

    doomed = [
        r.vec_id
        for r in spark.read.parquet(f"{path}/cells")
        .select("vec_id").limit(25).collect()
        # keep the demo query vectors so serving stays comparable
        if r.vec_id >= 10
    ]
    stats = purge_ivf_keys(spark, path, doomed)
    assert stats["rows_deleted"] == len(set(doomed))

    # rebuild equivalence: fresh land of the remaining vectors under
    # the SAME frozen quantizer AND codebooks
    from mapreducekmean_spark.operators.pq import _load_ivfpq_params

    cents, codebooks = _load_ivfpq_params(spark, path)
    path2 = str(tmp_path / "ivfpq2")
    land_ivfpq_index_points(
        spark,
        pts.filter(~F.col("vec_id").isin(doomed)),
        path2,
        cents=cents,
        codebooks=codebooks,
    )
    a = sorted(
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path}/cells").collect()
    )
    b = sorted(
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path2}/cells").collect()
    )
    assert a == b and a
    served_purged = sorted(
        tuple(r)
        for r in ann_ivfpq_indexed(spark, sf_oracle, path).collect()
    )
    served_rebuilt = sorted(
        tuple(r)
        for r in ann_ivfpq_indexed(spark, sf_oracle, path2).collect()
    )
    assert served_purged == served_rebuilt


def test_recall_curve_monotone_and_exact_at_full_probe(spark, sf_oracle):
    """The sizing curve's two contracts: recall is non-decreasing in
    nprobe (each level's candidate set is a superset of the last), and
    at nprobe = ncells the IVF pass IS the brute-force pass — recall
    exactly 1.0, hits exactly k per query."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import ann_recall_curve

    rows = {
        int(r.nprobe): r
        for r in ann_recall_curve(
            spark, sf_oracle, nprobes=(1, 2, 4, km.DEFAULT_K)
        ).collect()
    }
    hits = [rows[n].n_hit for n in (1, 2, 4, km.DEFAULT_K)]
    assert hits == sorted(hits)
    full = rows[km.DEFAULT_K]
    assert full.recall == 1.0
    assert full.n_hit == full.k * full.n_queries
