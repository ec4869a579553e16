"""Product quantization: deterministic training, an exact pure-Python
encoding/ADC oracle (same sequential fold order as the Spark
expressions), reconstruction-error monotonicity, and a recall floor
against the exact neighbors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducekmean_spark.operators import kmeans as km
from mapreducekmean_spark.operators.pq import (
    PQ_K,
    PQ_M,
    pq_adc_topk,
    pq_encode,
    pq_reconstruction_mse,
    train_pq_codebooks,
)


def _pts(spark, sf_dir):
    return km.embeddings(spark, sf_dir).select("vec_id", "emb")


def test_training_is_deterministic_and_shaped(spark, sf_small):
    pts = _pts(spark, sf_small)
    cb1 = train_pq_codebooks(pts, 64)
    cb2 = train_pq_codebooks(pts, 64)
    assert cb1 == cb2  # md5 init + fixed iters: no RNG anywhere
    assert len(cb1) == PQ_M
    assert all(len(cb) == PQ_K for cb in cb1)
    assert all(len(code) == 64 // PQ_M for cb in cb1 for code in cb)


def test_encoding_matches_sequential_python_oracle(spark, sf_small):
    """Given the trained codebooks, the Spark encoding must equal a
    from-scratch Python argmin that accumulates squared distances in
    the SAME sequential per-dimension order as the zip_with fold —
    first-wins tie-break included."""
    pts = _pts(spark, sf_small)
    cb = train_pq_codebooks(pts, 64)
    got = {r.vec_id: list(r.codes) for r in pq_encode(pts, cb).collect()}

    ds = 64 // PQ_M
    for r in pts.collect():
        expect = []
        for sub in range(PQ_M):
            sv = r.emb[sub * ds : (sub + 1) * ds]
            best, best_d = 0, None
            for code in range(PQ_K):
                d = 0.0
                for a, b in zip(sv, cb[sub][code]):
                    d = d + (a - b) * (a - b)  # sequential fold order
                if best_d is None or d < best_d:  # strict <: first wins
                    best, best_d = code, d
            expect.append(best)
        assert got[r.vec_id] == expect, r.vec_id


def test_reconstruction_error_falls_with_training(spark, sf_small):
    """Lloyd iterations must not increase the quantization MSE (each
    step is a local least-squares improvement), and trained codebooks
    must beat the raw md5-sample init by a real margin."""
    pts = _pts(spark, sf_small)
    cb0 = train_pq_codebooks(pts, 64, iters=0)
    cb1 = train_pq_codebooks(pts, 64, iters=1)
    cb4 = train_pq_codebooks(pts, 64, iters=4)
    m0 = pq_reconstruction_mse(pts, cb0)
    m1 = pq_reconstruction_mse(pts, cb1)
    m4 = pq_reconstruction_mse(pts, cb4)
    assert m1 < m0 * 0.9
    assert m4 <= m1 + 1e-12


def test_adc_topk_recall_beats_random(spark, sf_oracle):
    """ADC ranks by approximate distance over 32-bit codes; it must
    still recover a meaningful share of the TRUE L2 top-3 (random
    would get ~3/n ≈ 0.6%). Floor chosen well below observed so the
    pin survives fixture regeneration, same style as the ann_ivf/
    ann_lsh recall floors."""
    pts = _pts(spark, sf_oracle)
    rows = {r.vec_id: r.emb for r in pts.collect()}
    got = pq_adc_topk(spark, sf_oracle)
    by_q: dict[int, set[int]] = {}
    for r in got.collect():
        by_q.setdefault(r.q_id, set()).add(r.neighbor_id)

    hits = total = 0
    for q_id, approx in by_q.items():
        qv = rows[q_id]
        dists = []
        for vid, v in rows.items():
            if vid == q_id:
                continue
            d = sum((a - b) * (a - b) for a, b in zip(qv, v))
            dists.append((d, vid))
        true3 = {vid for _d, vid in sorted(dists)[:3]}
        hits += len(true3 & approx)
        total += 3
    assert by_q and total
    assert hits / total >= 0.10  # >16x the random-chance floor


def test_adc_distance_matches_python_oracle(spark, sf_small):
    """The reported adc_dist must equal the Python LUT sum (same
    sequential order, 6-dp round) for every returned row."""
    pts = _pts(spark, sf_small)
    cb = train_pq_codebooks(pts, 64)
    codes = {r.vec_id: list(r.codes) for r in pq_encode(pts, cb).collect()}
    emb = {r.vec_id: r.emb for r in pts.collect()}
    ds = 64 // PQ_M
    for r in pq_adc_topk(spark, sf_small).collect():
        qv = emb[r.q_id]
        d = 0.0
        for sub in range(PQ_M):
            code = codes[r.neighbor_id][sub]
            sv = qv[sub * ds : (sub + 1) * ds]
            part = 0.0
            for a, b in zip(sv, cb[sub][code]):
                part = part + (a - b) * (a - b)
            d = d + part
        assert r.adc_dist == pytest.approx(round(d, 6), abs=1e-6)


def test_train_rejects_bad_shapes(spark, sf_small):
    pts = _pts(spark, sf_small)
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(pts, 64, m=7)
    with pytest.raises(ValueError, match="at least k"):
        train_pq_codebooks(pts.limit(3), 64)


def test_ivfpq_matches_python_oracle_and_scans_codes_only(
    spark, sf_oracle, tmp_path
):
    """The composed IVFADC layout: the indexed query must equal a
    from-scratch pure-Python replay over the LANDED artifacts
    (centroids → probe cells by (dist, cell); residual LUT per
    (query, cell); ADC sum over each probed cell's code rows; rank by
    (adc, neighbor_id)) — same sequential fold orders everywhere. The
    plan must show both layout savings: partition pruning to the
    probed cells AND a codes-only read schema (no embedding column
    exists in the cells table to read)."""
    import re

    from mapreducekmean_spark.operators.pq import (
        ann_ivfpq_indexed,
        land_ivfpq_index,
    )
    from mapreducekmean_spark.operators.similarity import N_PROBE, N_QUERIES
    from mapreducekmean_spark.plans import formatted_plan

    ncells = 25
    path = str(tmp_path / "ivfpq")
    land_ivfpq_index(spark, sf_oracle, path, ncells=ncells)

    df = ann_ivfpq_indexed(spark, sf_oracle, path)
    got = sorted(tuple(r) for r in df.collect())

    cents = [
        r.centroid
        for r in sorted(
            spark.read.parquet(f"{path}/centroids").collect(),
            key=lambda r: r.cell,
        )
    ]
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.sub for r in cb_rows)
    kc = 1 + max(r.code for r in cb_rows)
    cb = [[None] * kc for _ in range(m)]
    for r in cb_rows:
        cb[r.sub][r.code] = list(r.vec)
    ds = len(cb[0][0])
    landed = [
        (r.vec_id, list(r.codes), r.cell)
        for r in spark.read.parquet(f"{path}/cells").collect()
    ]
    by_cell: dict[int, list] = {}
    for vid, codes, cell in landed:
        by_cell.setdefault(int(cell), []).append((vid, codes))
    emb = {r.vec_id: list(r.emb) for r in _pts(spark, sf_oracle).collect()}

    expect = []
    for q_id in range(N_QUERIES):
        qv = emb[q_id]
        cell_d = []
        for ci, c in enumerate(cents):
            d = 0.0
            for a, b in zip(qv, c):
                d = d + (a - b) * (a - b)
            cell_d.append((d, ci))
        probed = [ci for _d, ci in sorted(cell_d)[:N_PROBE]]
        cands = []
        for ci in probed:
            res = [a - b for a, b in zip(qv, cents[ci])]
            lut = []
            for sub in range(m):
                sv = res[sub * ds : (sub + 1) * ds]
                for code in range(kc):
                    lut.append(
                        sum(
                            (a - b) * (a - b)
                            for a, b in zip(sv, cb[sub][code])
                        )
                    )
            for vid, codes in by_cell.get(ci, []):
                if vid == q_id:
                    continue
                d = 0.0
                for sub in range(m):
                    d = d + lut[sub * kc + codes[sub]]
                cands.append((d, vid))
        for i, (d, vid) in enumerate(sorted(cands)[:3]):
            expect.append((q_id, vid, i + 1, round(d, 6)))
    assert got == sorted(expect) and got

    plan = formatted_plan(df)
    assert re.search(r"PartitionFilters: \[cell", plan), plan
    m_rs = re.search(r"ReadSchema: [^\n]*codes[^\n]*", plan)
    assert m_rs and "emb" not in m_rs.group(0), plan


def test_ivfpq_recall_floor(spark, sf_oracle, tmp_path):
    """Residual-ADC over probed cells must still recover a meaningful
    share of the true L2 top-3 (random ≈ 0.6%); floor set well below
    observed, the ann_ivf/pq_adc_topk style."""
    from mapreducekmean_spark.operators.pq import (
        ann_ivfpq_indexed,
        land_ivfpq_index,
    )

    path = str(tmp_path / "ivfpq")
    land_ivfpq_index(spark, sf_oracle, path)
    rows = {r.vec_id: r.emb for r in _pts(spark, sf_oracle).collect()}
    by_q: dict[int, set[int]] = {}
    for r in ann_ivfpq_indexed(spark, sf_oracle, path).collect():
        by_q.setdefault(r.q_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q_id, approx in by_q.items():
        qv = rows[q_id]
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, v)), vid)
            for vid, v in rows.items()
            if vid != q_id
        )
        true3 = {vid for _d, vid in dists[:3]}
        hits += len(true3 & approx)
        total += 3
    assert by_q and total
    assert hits / total >= 0.10


def test_ivfpq_append_matches_frozen_rebuild_and_replays_safely(
    spark, sf_oracle, tmp_path
):
    """Grow-by-append under BOTH frozen parameter sets: land on the
    first half (centroids and codebooks train from it), append the
    rest, and the indexed query must equal a one-shot land of the
    whole corpus pinned to those same frozen centroids+codebooks. A
    replayed append (content-detected via the tail cell probe) changes
    nothing."""
    import os

    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.pq import (
        ann_ivfpq_indexed,
        append_ivfpq_index,
        land_ivfpq_index,
    )

    pts = _pts(spark, sf_oracle)
    cut = int(pts.approxQuantile("vec_id", [0.5], 0.0)[0])
    half_dir = str(tmp_path / "halffixture")
    os.makedirs(half_dir, exist_ok=True)
    spark.read.parquet(f"{sf_oracle}/embeddings.parquet").filter(
        F.col("vec_id") < cut
    ).write.mode("overwrite").parquet(f"{half_dir}/embeddings.parquet")

    path = str(tmp_path / "grown")
    land_ivfpq_index(spark, half_dir, path)
    append_ivfpq_index(spark, pts.filter(F.col("vec_id") >= cut), path)
    grown = sorted(
        tuple(r) for r in ann_ivfpq_indexed(spark, sf_oracle, path).collect()
    )

    cents = [
        r.centroid
        for r in sorted(
            spark.read.parquet(f"{path}/centroids").collect(),
            key=lambda r: r.cell,
        )
    ]
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r.sub for r in cb_rows)
    kc = 1 + max(r.code for r in cb_rows)
    cb = [[None] * kc for _ in range(m)]
    for r in cb_rows:
        cb[r.sub][r.code] = list(r.vec)
    rb = str(tmp_path / "rebuilt")
    land_ivfpq_index(
        spark, sf_oracle, rb, ncells=len(cents), cents=cents, codebooks=cb
    )
    rebuilt = sorted(
        tuple(r) for r in ann_ivfpq_indexed(spark, sf_oracle, rb).collect()
    )
    assert grown == rebuilt and grown

    n_rows = spark.read.parquet(f"{path}/cells").count()
    append_ivfpq_index(spark, pts.filter(F.col("vec_id") >= cut), path)
    assert spark.read.parquet(f"{path}/cells").count() == n_rows
    assert (
        sorted(
            tuple(r)
            for r in ann_ivfpq_indexed(spark, sf_oracle, path).collect()
        )
        == grown
    )


def test_ivfpq_compaction_restores_grain_and_keeps_results(
    spark, sf_oracle, tmp_path
):
    """The IVF-PQ cells share the plain ``cell=`` partitioned layout,
    so ``similarity.compact_ivf_index`` applies verbatim: after a
    land + append each touched cell holds 2 files; compaction rewrites
    every cell to its byte-sized file count (1 here) and queries are
    row-identical before/after."""
    import glob
    import os

    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.pq import (
        ann_ivfpq_indexed,
        append_ivfpq_index,
        land_ivfpq_index_points,
    )
    from mapreducekmean_spark.operators.similarity import (
        compact_ivf_index,
    )

    pts = _pts(spark, sf_oracle)
    cut = int(pts.approxQuantile("vec_id", [0.5], 0.0)[0])
    path = str(tmp_path / "pqidx")
    land_ivfpq_index_points(spark, pts.filter(F.col("vec_id") < cut), path)
    append_ivfpq_index(spark, pts.filter(F.col("vec_id") >= cut), path)

    def files_per_cell():
        return {
            d: len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(f"{path}/cells/cell=*")
        }

    before = sorted(
        tuple(r) for r in ann_ivfpq_indexed(spark, sf_oracle, path).collect()
    )
    assert any(n > 1 for n in files_per_cell().values())
    compact_ivf_index(spark, path)
    assert all(n == 1 for n in files_per_cell().values())
    after = sorted(
        tuple(r) for r in ann_ivfpq_indexed(spark, sf_oracle, path).collect()
    )
    assert after == before and before


def test_ivfpq_trained_quantizer_lands_and_serves(spark, sf_oracle, tmp_path):
    """train_iters on the IVF-PQ land: the Lloyd-refined coarse
    quantizer plugs into the same residual-encode flow and the landed
    index answers queries (smoke + shape; the balance rationale is
    pinned on the raw-IVF side, which shares the training code path)."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.pq import (
        ann_ivfpq_indexed,
        land_ivfpq_index_points,
    )

    pts = _pts(spark, sf_oracle)
    path = str(tmp_path / "trained")
    land_ivfpq_index_points(spark, pts, path, ncells=4, train_iters=2)
    out = ann_ivfpq_indexed(spark, sf_oracle, path).collect()
    assert len(out) == 30
    assert spark.read.parquet(f"{path}/cells").count() == pts.count()


def test_l2_topk_matches_python(spark, sf_small):
    """The exact-L2 recall baseline must BE exact: per query, the same
    id set and rank order as a pure-Python sort over squared L2."""
    from mapreducekmean_spark.operators.similarity import l2_topk

    rows = {r.vec_id: r.emb for r in _pts(spark, sf_small).collect()}
    got: dict[int, list[int]] = {}
    for r in sorted(l2_topk(spark, sf_small, k=3).collect(),
                    key=lambda r: (r.q_id, r.rank)):
        got.setdefault(r.q_id, []).append(r.neighbor_id)
    assert len(got) == 10
    for q_id, ids in got.items():
        qv = rows[q_id]
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, v)), vid)
            for vid, v in rows.items()
            if vid != q_id
        )
        assert ids == [vid for _d, vid in dists[:3]]


def test_pq_recall_m_sensitivity(spark, sf_oracle):
    """Finer subquantization cannot hurt retrieval on the fixture: the
    m=16 (4-dim subspaces) total hit count is at least the m=4 (16-dim
    subspaces) one — the knob a user turns when recall is short."""
    from mapreducekmean_spark.operators.pq import pq_adc_recall

    totals = {}
    for m in (4, 16):
        totals[m] = sum(
            r.n_hit for r in pq_adc_recall(spark, sf_oracle, m=m).collect()
        )
    assert totals[16] >= totals[4]
    assert totals[16] > 0


def test_ivfpq_recall_nprobe_monotone_and_exact_bound(
    spark, sf_oracle, tmp_path
):
    """Two contracts a served compressed index is sized by: (1) total
    hits are non-decreasing in nprobe (more cells probed → candidate
    superset); (2) per query, the IVF-PQ hit count can never exceed
    the EXACT-rerank bound |true top-3 ∩ probed candidates| — ADC is a
    selection rule over the probed cells, and no selection rule beats
    exact scoring of the same candidates."""
    from mapreducekmean_spark.operators.pq import (
        _load_ivfpq_params,
        ivfpq_recall,
        land_ivfpq_index,
    )
    from mapreducekmean_spark.operators.similarity import (
        _probe_cells,
        _queries_and_points,
    )

    path = str(tmp_path / "ivfpq")
    land_ivfpq_index(spark, sf_oracle, path)
    totals = {}
    per_q = {}
    for nprobe in (1, 2, 4):
        rows = ivfpq_recall(spark, sf_oracle, path, nprobe=nprobe).collect()
        totals[nprobe] = sum(r.n_hit for r in rows)
        per_q[nprobe] = {r.q_id: r.n_hit for r in rows}
    assert totals[1] <= totals[2] <= totals[4]
    assert totals[4] > 0

    # exact-rerank bound at nprobe=2 (the default serving config)
    cents, _cb = _load_ivfpq_params(spark, path)
    qs, _pts_df = _queries_and_points(spark, sf_oracle)
    probed = {}
    for r in _probe_cells(qs, cents, len(cents), 2).collect():
        probed.setdefault(r.q_id, set()).add(r.cell)
    cell_of = {
        r.vec_id: r.cell
        for r in spark.read.parquet(f"{path}/cells")
        .select("vec_id", "cell")
        .collect()
    }
    emb = {r.vec_id: r.emb for r in _pts(spark, sf_oracle).collect()}
    for q_id, n_hit in per_q[2].items():
        qv = emb[q_id]
        dists = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, v)), vid)
            for vid, v in emb.items()
            if vid != q_id
        )
        true3 = {vid for _d, vid in dists[:3]}
        cand_hits = sum(
            1 for vid in true3 if int(cell_of[vid]) in
            {int(c) for c in probed[q_id]}
        )
        assert n_hit <= cand_hits


def test_refined_recall_dominates_adc_and_is_monotone_in_m_cand(
    spark, sf_oracle, tmp_path
):
    """The exact-refine tier's two contracts: (1) refined recall ≥ the
    pure-ADC tier's at equal nprobe — quantization loss is gone from
    the candidate ranking, and exact re-scoring of a candidate
    superset of the served set can only keep or improve the top-k;
    (2) total hits are non-decreasing in m_cand (larger preselect →
    candidate superset); and at m_cand ≥ all probed rows the refined
    result EQUALS the exact-rerank ceiling: the raw-IVF serve ranking
    restricted to the probed cells."""
    from mapreducekmean_spark.operators.pq import (
        ivfpq_refined_recall,
        ivfpq_refined_topk,
        ivfpq_recall,
        land_ivfpq_index,
        _load_ivfpq_params,
    )
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
    )
    from mapreducekmean_spark.operators import kmeans as km

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    land_ivfpq_index(spark, sf_oracle, pq_path)
    cents, _cb = _load_ivfpq_params(spark, pq_path)
    land_ivf_index_points(
        spark,
        km.embeddings(spark, sf_oracle).select("vec_id", "emb"),
        raw_path,
        cents=cents,
    )

    adc_total = sum(
        r.n_hit for r in ivfpq_recall(spark, sf_oracle, pq_path).collect()
    )
    totals = {}
    for m_cand in (3, 10, 100000):
        rows = ivfpq_refined_recall(
            spark, sf_oracle, pq_path, raw_path, m_cand=m_cand
        ).collect()
        totals[m_cand] = sum(r.n_hit for r in rows)
    assert adc_total <= totals[10]  # refine buys recall back at the default
    assert totals[3] <= totals[10] <= totals[100000]

    # huge m_cand = no preselect cut: refined ranks must EQUAL exact
    # scoring of every probed row (the ceiling the ADC tier approximates)
    from mapreducekmean_spark.operators.similarity import l2_topk

    refined = {
        (r.q_id, r.rank): r.neighbor_id
        for r in ivfpq_refined_topk(
            spark, sf_oracle, pq_path, raw_path, m_cand=100000
        ).collect()
    }
    emb = {r.vec_id: list(r.emb) for r in _pts(spark, sf_oracle).collect()}
    cell_of = {
        r.vec_id: r.cell
        for r in spark.read.parquet(f"{raw_path}/cells")
        .select("vec_id", "cell")
        .collect()
    }
    from mapreducekmean_spark.operators.similarity import (
        N_PROBE,
        _probe_cells,
        _queries_and_points,
    )

    qs, _ = _queries_and_points(spark, sf_oracle)
    probed = {}
    for r in _probe_cells(qs, cents, len(cents), N_PROBE).collect():
        probed.setdefault(r.q_id, set()).add(r.cell)
    for q_id, cells in probed.items():
        qv = emb[q_id]
        want = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, emb[v])), v)
            for v in emb
            if v != q_id and cell_of[v] in cells
        )[:3]
        for rank, (_d, vid) in enumerate(want, start=1):
            assert refined[(q_id, rank)] == vid


def test_refined_topk_refuses_unpaired_indexes(spark, sf_oracle, tmp_path):
    """The pairing precondition is CHECKED, not assumed: a raw store
    landed under different coarse centroids (here: a different cell
    count) must be refused with the re-land hint, never silently
    served from wrong partitions."""
    import pytest

    from mapreducekmean_spark.operators.pq import (
        ivfpq_refined_topk,
        land_ivfpq_index,
    )
    from mapreducekmean_spark.operators.similarity import land_ivf_index

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    land_ivfpq_index(spark, sf_oracle, pq_path)
    land_ivf_index(spark, sf_oracle, raw_path, ncells=7)
    with pytest.raises(ValueError, match="PAIRED"):
        ivfpq_refined_topk(spark, sf_oracle, pq_path, raw_path)


@pytest.mark.parametrize(
    "refine", ["ivfpq_refined_topk", "ivfpq_refined_mcand_curve"]
)
def test_refine_coverage_guard_refuses_row_level_drift(
    spark, sf_oracle, tmp_path, refine
):
    """The row-level coverage guard: stores that still share their
    centroid table (so the pairing check passes) but whose raw side has
    lost a preselected candidate's row must be refused — refining only
    the covered subset would silently degrade the result."""
    from mapreducekmean_spark.operators import pq
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
        purge_ivf_keys,
    )

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    pq.land_ivfpq_index(spark, sf_oracle, pq_path)
    cents, _cb = pq._load_ivfpq_params(spark, pq_path)
    land_ivf_index_points(spark, _pts(spark, sf_oracle), raw_path, cents=cents)
    # a rank-1 ADC candidate is preselected at every m_cand
    victim = pq.ann_ivfpq_indexed(spark, sf_oracle, pq_path, k=1).first()
    purge_ivf_keys(spark, raw_path, [int(victim["neighbor_id"])])
    with pytest.raises(ValueError, match="drifted"):
        getattr(pq, refine)(spark, sf_oracle, pq_path, raw_path)


def _land_hot_pair(spark, sf_oracle, pq_path, raw_path):
    """Land PAIRED IVF-PQ + raw-IVF stores under a deliberately bad
    quantizer: centroid 0 in the data, centroid 1 at 1e6 — every row
    lands in cell 0 (the hot cell). Mirrors test_similarity_indexed's
    _land_hot for the compressed store."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import land_ivfpq_index_points
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
    )

    pts = km.embeddings(spark, sf_oracle).select("vec_id", "emb")
    dim = len(pts.take(1)[0]["emb"])
    cents = [[0.0] * dim, [1e6] * dim]
    land_ivfpq_index_points(spark, pts, pq_path, cents=cents)
    land_ivf_index_points(spark, pts, raw_path, cents=cents)
    return pts, cents


def test_rebalance_ivfpq_equals_fresh_land_and_serves_cold_cells(
    spark, sf_oracle, tmp_path
):
    """The compressed store's rebalance parity: the hot cell splits
    into bounded sub-cells with rows RE-ENCODED against their new
    sub-centroids under the frozen codebooks; the post-rebalance
    layout equals a FRESH land_ivfpq_index_points under (rebalanced
    centroids, frozen codebooks) — codes and all; a second call is a
    no-op; and serving on queries is identical to a fresh-land serve
    (the cold-cell/before-after identity in its strongest form)."""
    import math

    from mapreducekmean_spark.operators.pq import (
        _load_ivfpq_params,
        ann_ivfpq_indexed,
        land_ivfpq_index_points,
        rebalance_ivfpq_cells,
    )

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    pts, _cents0 = _land_hot_pair(spark, sf_oracle, pq_path, raw_path)
    n = pts.count()

    res = rebalance_ivfpq_cells(spark, pq_path, raw_path, max_cell_rows=100)
    assert res["split_cells"] == 1 and res["new_cells"] >= 2

    cells = spark.read.parquet(f"{pq_path}/cells")
    sizes = {
        int(r["cell"]): r["n"]
        for r in cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(sizes.values()) == n
    assert max(sizes.values()) <= 100
    assert 0 not in sizes  # retired dir deleted
    cents, codebooks = _load_ivfpq_params(spark, pq_path)
    assert math.isinf(cents[0][0])  # tombstone keeps the id space dense

    # rebuild equivalence INCLUDING codes: fresh land under the
    # rebalanced centroids with the frozen codebooks
    path2 = str(tmp_path / "ivfpq2")
    land_ivfpq_index_points(
        spark, pts, path2, cents=cents, codebooks=codebooks
    )
    a = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in cells.select("vec_id", "cell", "codes").collect()
    }
    b = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{path2}/cells")
        .select("vec_id", "cell", "codes").collect()
    }
    assert a == b

    # idempotent: nothing left to split
    assert rebalance_ivfpq_cells(
        spark, pq_path, raw_path, max_cell_rows=100
    ) == {"split_cells": 0, "new_cells": 0, "passes": 0}

    # serving identity: the rebalanced store answers every query
    # exactly as the fresh land does
    got = sorted(
        tuple(r)
        for r in ann_ivfpq_indexed(spark, sf_oracle, pq_path).collect()
    )
    want = sorted(
        tuple(r)
        for r in ann_ivfpq_indexed(spark, sf_oracle, path2).collect()
    )
    assert got == want and got


def test_rebalance_ivfpq_crash_windows_converge(spark, sf_oracle, tmp_path):
    """The compressed rebalance's crash windows re-run to the same end
    state: (a) sub-cell dirs written before the centroid swap are
    orphans (ids past the table) and are cleaned up + recomputed; (b) a
    tombstoned-but-undeleted retired dir is removed on rerun. End state
    byte-compared via the (vec_id, cell, codes) set."""
    import os
    import shutil

    from mapreducekmean_spark.operators.pq import rebalance_ivfpq_cells

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    _land_hot_pair(spark, sf_oracle, pq_path, raw_path)

    # the clean full run's end state, on a copy
    ref_pq = str(tmp_path / "ref_pq")
    shutil.copytree(pq_path, ref_pq)
    rebalance_ivfpq_cells(spark, ref_pq, raw_path, max_cell_rows=100)
    want = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{ref_pq}/cells").collect()
    }

    # window (a): fake a crash after the additive write — plant an
    # orphan dir past the table; rerun must clean it and converge
    crash_a = str(tmp_path / "crash_a")
    shutil.copytree(pq_path, crash_a)
    os.makedirs(os.path.join(crash_a, "cells", "cell=9"))
    shutil.copytree(
        os.path.join(crash_a, "cells", "cell=0"),
        os.path.join(crash_a, "cells", "cell=9"),
        dirs_exist_ok=True,
    )
    rebalance_ivfpq_cells(spark, crash_a, raw_path, max_cell_rows=100)
    got_a = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{crash_a}/cells").collect()
    }
    assert got_a == want

    # window (b): crash between the swap and the retired-dir delete —
    # simulate by running fully, then restoring the retired dir
    crash_b = str(tmp_path / "crash_b")
    shutil.copytree(pq_path, crash_b)
    keep_hot = str(tmp_path / "keep_hot")
    shutil.copytree(os.path.join(crash_b, "cells", "cell=0"), keep_hot)
    rebalance_ivfpq_cells(spark, crash_b, raw_path, max_cell_rows=100)
    shutil.copytree(
        keep_hot, os.path.join(crash_b, "cells", "cell=0")
    )  # the undeleted retired dir
    res = rebalance_ivfpq_cells(spark, crash_b, raw_path, max_cell_rows=100)
    assert res == {"split_cells": 0, "new_cells": 0, "passes": 0}
    got_b = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{crash_b}/cells").collect()
    }
    assert got_b == want


def test_rebalance_ivfpq_refuses_uncovered_raw_source(
    spark, sf_oracle, tmp_path
):
    """Coverage is checked, not assumed: a raw frame missing some of
    the hot cell's vec_ids must be refused (silently encoding the
    covered subset would drop rows from the index); a full-coverage
    FRAME source works and matches the paired-path result."""
    import pytest

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import rebalance_ivfpq_cells

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    pts, _ = _land_hot_pair(spark, sf_oracle, pq_path, raw_path)

    partial = pts.filter(F.col("vec_id") % 2 == 0)
    with pytest.raises(ValueError, match="cover"):
        rebalance_ivfpq_cells(spark, pq_path, partial, max_cell_rows=100)

    # a covering frame source converges to the paired-path end state
    twin = str(tmp_path / "ivfpq_twin")
    import shutil

    shutil.copytree(pq_path, twin)
    rebalance_ivfpq_cells(spark, pq_path, pts, max_cell_rows=100)
    rebalance_ivfpq_cells(spark, twin, raw_path, max_cell_rows=100)
    a = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{pq_path}/cells").collect()
    }
    b = {
        (r.vec_id, int(r.cell), tuple(r.codes))
        for r in spark.read.parquet(f"{twin}/cells").collect()
    }
    assert a == b


def test_ivfpq_cell_stats_shared_layout_and_pairing(
    spark, sf_oracle, tmp_path
):
    """ivf_index_stats serves the COMPRESSED store through the shared
    ``cells/cell=`` layout: per-cell counts off the codes-only scan
    equal the PAIRED raw store's (the refine tier's pairing invariant
    made visible — same quantizer, same assignment, same occupancy),
    and the stats scan reads NO data columns at all — only the cell
    partition column reaches the aggregate."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import (
        _load_ivfpq_params,
        land_ivfpq_index,
    )
    from mapreducekmean_spark.operators.similarity import (
        ivf_index_stats,
        land_ivf_index_points,
    )
    from mapreducekmean_spark.plans.inspect import formatted_plan

    pq_path, raw_path = str(tmp_path / "pq"), str(tmp_path / "raw")
    land_ivfpq_index(spark, sf_oracle, pq_path)
    cents, _cb = _load_ivfpq_params(spark, pq_path)
    land_ivf_index_points(
        spark,
        km.embeddings(spark, sf_oracle).select("vec_id", "emb"),
        raw_path,
        cents=cents,
    )
    a = sorted(tuple(r) for r in ivf_index_stats(spark, pq_path).collect())
    b = sorted(tuple(r) for r in ivf_index_stats(spark, raw_path).collect())
    assert a == b and len(a) > 0
    plan = formatted_plan(ivf_index_stats(spark, pq_path))
    assert "ReadSchema: struct<>" in plan  # codes bytes never read


def test_refined_plan_prunes_raw_scan_and_broadcasts_candidates(
    spark, sf_oracle, tmp_path
):
    """The refine tier's physical claims. On the lazy plan
    (checkpoint=False — the logical shape of what the checkpoints
    execute): the raw store is read through PartitionFilters on the
    probed cells (never a full raw scan), and the bounded
    candidate/query frames reach it as broadcasts — the wide rows
    that flow are the pruned cells' only. On the default serve plan:
    NO file scan at all — the coverage guard's counts and the final
    exact ranking all read the two bounded localCheckpoints, so the
    probed-cell scans execute exactly once per serve (the r10 verdict
    found the preselect executing ~3x)."""
    import re

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import (
        _load_ivfpq_params,
        ivfpq_refined_topk,
        land_ivfpq_index,
    )
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
    )
    from mapreducekmean_spark.plans.inspect import formatted_plan

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    land_ivfpq_index(spark, sf_oracle, pq_path)
    cents, _cb = _load_ivfpq_params(spark, pq_path)
    land_ivf_index_points(
        spark,
        km.embeddings(spark, sf_oracle).select("vec_id", "emb"),
        raw_path,
        cents=cents,
    )
    plan = formatted_plan(
        ivfpq_refined_topk(
            spark, sf_oracle, pq_path, raw_path, checkpoint=False
        )
    )
    # every cells scan (PQ preselect and raw refine) is partition-pruned
    scans = re.findall(r"PartitionFilters: \[(.*?)\]", plan)
    cell_scans = [s for s in scans if "cell" in s]
    assert len(cell_scans) >= 2, plan  # codes scan + raw scan
    assert all("cell" in s for s in cell_scans)
    assert "BroadcastHashJoin" in plan
    # the default serve plan re-reads NOTHING: both stages are bounded
    # localCheckpoints, so no parquet scan (and no exchange) survives
    # into the returned plan — the guard counts shared the execution.
    served = formatted_plan(
        ivfpq_refined_topk(spark, sf_oracle, pq_path, raw_path)
    )
    assert "Scan ExistingRDD" in served, served
    assert "FileScan" not in served, served


def test_refine_lifecycle_rebalance_repair_append_serve(
    spark, sf_oracle, tmp_path
):
    """The compressed store's full maintenance lifecycle against the
    refine tier: (1) rebalance the PQ store → the pair has DRIFTED and
    refine REFUSES (never silently serves from wrong partitions);
    (2) repair = re-land the raw side under the rebalanced table →
    refined serving equals a fresh-landed pair's; (3) append a new
    batch to BOTH stores (frozen quantizer/codebooks) → still equal to
    the fresh pair landed over the full corpus."""
    import pytest

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import (
        _load_ivfpq_params,
        append_ivfpq_index,
        ivfpq_refined_topk,
        land_ivfpq_index_points,
        rebalance_ivfpq_cells,
    )
    from mapreducekmean_spark.operators.similarity import (
        append_ivf_index,
        land_ivf_index_points,
    )

    pts, _c0 = _land_hot_pair(
        spark, sf_oracle, str(tmp_path / "pq"), str(tmp_path / "raw")
    )
    pq_path, raw_path = str(tmp_path / "pq"), str(tmp_path / "raw")

    # (1) rebalance the PQ side only → pairing must be REFUSED
    rebalance_ivfpq_cells(spark, pq_path, raw_path, max_cell_rows=100)
    with pytest.raises(ValueError, match="PAIRED"):
        ivfpq_refined_topk(spark, sf_oracle, pq_path, raw_path)

    # (2) repair: re-land the raw side under the rebalanced table
    cents, codebooks = _load_ivfpq_params(spark, pq_path)
    land_ivf_index_points(spark, pts, raw_path, cents=cents)
    got = sorted(
        tuple(r)
        for r in ivfpq_refined_topk(
            spark, sf_oracle, pq_path, raw_path
        ).collect()
    )
    fresh_pq, fresh_raw = str(tmp_path / "fpq"), str(tmp_path / "fraw")
    land_ivfpq_index_points(
        spark, pts, fresh_pq, cents=cents, codebooks=codebooks
    )
    land_ivf_index_points(spark, pts, fresh_raw, cents=cents)
    want = sorted(
        tuple(r)
        for r in ivfpq_refined_topk(
            spark, sf_oracle, fresh_pq, fresh_raw
        ).collect()
    )
    assert got == want and got

    # (3) append a new batch to both stores; serve again
    max_id = pts.agg(F.max("vec_id")).collect()[0][0]
    batch = pts.limit(40).select(
        (F.col("vec_id") + max_id + 1).alias("vec_id"), "emb"
    ).localCheckpoint()
    append_ivfpq_index(spark, batch, pq_path)
    append_ivf_index(spark, batch, raw_path)
    full = pts.unionByName(batch)
    land_ivfpq_index_points(
        spark, full, str(tmp_path / "fpq2"), cents=cents,
        codebooks=codebooks,
    )
    land_ivf_index_points(spark, full, str(tmp_path / "fraw2"), cents=cents)
    got2 = sorted(
        tuple(r)
        for r in ivfpq_refined_topk(
            spark, sf_oracle, pq_path, raw_path
        ).collect()
    )
    want2 = sorted(
        tuple(r)
        for r in ivfpq_refined_topk(
            spark,
            sf_oracle,
            str(tmp_path / "fpq2"),
            str(tmp_path / "fraw2"),
        ).collect()
    )
    assert got2 == want2 and got2


def test_refined_mcand_curve_monotone_and_consistent(
    spark, sf_oracle, tmp_path
):
    """The m_cand sizing curve's contracts: recall non-decreasing in
    m_cand (each level's candidates are a superset of the smaller
    level's — the prefix-cut construction makes this structural), and
    each curve row's n_hit equals the per-query ivfpq_refined_recall
    total at the same m_cand (the curve is an aggregation of the same
    serve, not a different algorithm)."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.pq import (
        _load_ivfpq_params,
        ivfpq_refined_mcand_curve,
        ivfpq_refined_recall,
        land_ivfpq_index,
    )
    from mapreducekmean_spark.operators.similarity import (
        land_ivf_index_points,
    )

    pq_path = str(tmp_path / "ivfpq")
    raw_path = str(tmp_path / "ivfraw")
    land_ivfpq_index(spark, sf_oracle, pq_path)
    cents, _cb = _load_ivfpq_params(spark, pq_path)
    land_ivf_index_points(
        spark,
        km.embeddings(spark, sf_oracle).select("vec_id", "emb"),
        raw_path,
        cents=cents,
    )

    curve = {
        r.m_cand: r
        for r in ivfpq_refined_mcand_curve(
            spark, sf_oracle, pq_path, raw_path, m_cands=(3, 10, 50)
        ).collect()
    }
    assert (
        curve[3].n_hit <= curve[10].n_hit <= curve[50].n_hit
    )
    for mc in (3, 10, 50):
        per_q = sum(
            r.n_hit
            for r in ivfpq_refined_recall(
                spark, sf_oracle, pq_path, raw_path, m_cand=mc
            ).collect()
        )
        assert curve[mc].n_hit == per_q, mc
        assert curve[mc].n_queries == 10 and curve[mc].k == 3
