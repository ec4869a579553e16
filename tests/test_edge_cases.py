"""Edge-case hardening: degenerate inputs the fixtures never produce —
empty documents, unicode, NaN coordinates, k=1, single-point clusters."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_tokens_empty_and_unicode(spark):
    from mapreducekmean_spark.operators.text import tokens

    df = spark.createDataFrame(
        [Row(text=""), Row(text="   "), Row(text="héllo wörld 123"), Row(text="a-b_c")]
    )
    got = [r.t for r in df.select(tokens("text").alias("t")).collect()]
    assert got[0] == [] and got[1] == []
    # ASCII-range tokenizer: accented chars split tokens (documented
    # [a-z0-9]+ semantics, identical in the DuckDB oracle)
    assert "123" in got[2]
    assert got[3] == ["a", "b", "c"]


def test_shingles_short_docs_empty(spark):
    from mapreducekmean_spark.operators.dedup import shingles

    df = spark.createDataFrame([Row(text="one two"), Row(text="one")])
    got = [r.s for r in df.select(shingles().alias("s")).collect()]
    assert got == [[], []]


def test_exact_dedup_whitespace_case_insensitive(spark):
    from mapreducekmean_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello  World"),
            Row(doc_id=2, text="hello world"),
            Row(doc_id=3, text="different"),
        ]
    )
    got = {
        (r.keep_id, r.n_copies) for r in exact_dedup(df).collect()
    }
    assert (1, 2) in got and (3, 1) in got


def test_points_csv_nan_rows_filtered(spark, tmp_path):
    """'NaN' parses as a double NaN — the validity filter must drop it
    (the reference would propagate it into every distance)."""
    p = tmp_path / "nan.csv"
    p.write_text("1.0,2.0\nNaN,3.0\n4.0,NaN\n5.0,6.0\n")
    from mapreducekmean_spark.sources import read_points_csv

    got = sorted(tuple(r) for r in read_points_csv(spark, str(p)).collect())
    assert got == [(1.0, 2.0), (5.0, 6.0)]


def test_lloyd_k1_converges(spark):
    from mapreducekmean_spark.operators import kmeans as km

    pts = spark.createDataFrame(
        [Row(vec_id=i, emb=[float(i), 0.0]) for i in range(10)]
    )
    res = km.lloyd(pts, k=1)
    assert res.converged
    # single cluster centroid = global mean
    assert abs(res.centroids[0][0] - 4.5) < 1e-12


def test_lloyd_k_equals_n(spark):
    """k == n points: every point its own cluster, converges iteration 1."""
    from mapreducekmean_spark.operators import kmeans as km

    pts = spark.createDataFrame(
        [Row(vec_id=i, emb=[float(i) * 10, 1.0]) for i in range(4)]
    )
    res = km.lloyd(pts, k=4)
    assert res.converged
    xs = sorted(c[0] for c in res.centroids)
    assert xs == [0.0, 10.0, 20.0, 30.0]


def test_assign_nan_free_distances(spark):
    """Distances over finite inputs are finite (no NaN leaks from the
    fold)."""
    from mapreducekmean_spark.operators import kmeans as km

    pts = spark.createDataFrame([Row(vec_id=1, emb=[1e300, -1e300])])
    out = km.assign(pts, [[0.0, 0.0]]).select(
        F.element_at("dists", 1).alias("d")
    ).first()
    assert out.d == float("inf")  # overflow → inf, not NaN


def test_salted_join_empty_small_side(spark):
    from mapreducekmean_spark.functions.skew import salted_join

    big = spark.createDataFrame([(1, "a")], "k int, v string")
    small = spark.createDataFrame([], "k int, w string")
    assert salted_join(big, small, "k").count() == 0
    assert salted_join(big, small, "k", how="left").count() == 1


def test_centroid_literal_sql_nonfinite(spark):
    """inf/nan centroid components must produce parseable literals, not
    an unresolved `infD` column (regression: repr-based literal)."""
    from mapreducekmean_spark.functions.vector import centroid_literal_sql

    inf, nan = float("inf"), float("nan")
    rows = spark.sql(
        f"SELECT {centroid_literal_sql([[inf, -inf], [nan, 1.5]])} AS c"
    ).first()["c"]
    assert rows[0][0] == inf and rows[0][1] == -inf
    assert rows[1][0] != rows[1][0] and rows[1][1] == 1.5


def test_points_csv_infinity_filtered(spark, tmp_path):
    p = tmp_path / "inf.csv"
    p.write_text("1.0,2.0\nInfinity,3.0\n4.0,-Infinity\n5.0,6.0\n")
    from mapreducekmean_spark.sources import read_points_csv

    got = sorted(tuple(r) for r in read_points_csv(spark, str(p)).collect())
    assert got == [(1.0, 2.0), (5.0, 6.0)]


def test_ngram_block_key_negative_ids(spark):
    """Blocked jaccard join must not drop in-window pairs for negative
    doc_ids (regression: truncating cast vs floor division)."""
    from pyspark.sql import Row

    from mapreducekmean_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            Row(doc_id=-4, lang="en", text="a b c d"),
            Row(doc_id=-2, lang="en", text="a b c e"),
            Row(doc_id=-1, lang="en", text="a b c f"),
            Row(doc_id=1, lang="en", text="a b c g"),
        ]
    )
    pairs = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, window=3).collect()
    }
    want = {(-4, -2), (-4, -1), (-2, -1), (-2, 1), (-1, 1)}
    assert pairs == want


def test_cli_k_exceeds_points(tmp_path):
    import subprocess
    import sys as _sys

    src = tmp_path / "p.csv"
    src.write_text("0,0\n1,1\n")
    res = subprocess.run(
        [_sys.executable, "-m", "mapreducekmean_spark", "5", str(src), str(tmp_path / "o")],
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 1
    assert "exceeds" in res.stderr


def test_register_views_sf_switch(spark, sf_small, sf_oracle):
    """The view-registration cache must re-register when the same session
    asks for a different sf_dir (views always reflect the last request)."""
    from mapreducekmean_spark.sql import run_sql

    n_small = run_sql(spark, sf_small, "SELECT count(*) AS n FROM orders").first()["n"]
    n_big = run_sql(spark, sf_oracle, "SELECT count(*) AS n FROM orders").first()["n"]
    n_small2 = run_sql(spark, sf_small, "SELECT count(*) AS n FROM orders").first()["n"]
    assert n_small == n_small2 and n_big > n_small


def test_asof_join_semantics(spark):
    """Generic as-of: latest right row at-or-before each left time,
    inclusive boundary, NULLs when no prior right row exists."""
    from pyspark.sql import Row

    from mapreducekmean_spark.operators.analytic import asof_join

    left = spark.createDataFrame(
        [
            Row(k=1, lt=10, tag="a"),
            Row(k=1, lt=20, tag="b"),
            Row(k=1, lt=5, tag="c"),   # before any right row
            Row(k=2, lt=10, tag="d"),  # key with no right rows at all
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, rt=10, v="r10"),  # equal time -> inclusive
            Row(k=1, rt=15, v="r15"),
            Row(k=1, rt=8, v="r8"),
        ]
    )
    got = {
        r.tag: r.v
        for r in asof_join(left, right, "k", "lt", "rt", ["v"]).collect()
    }
    assert got == {"a": "r10", "b": "r15", "c": None, "d": None}


def test_asof_join_multiple_value_cols(spark):
    from pyspark.sql import Row

    from mapreducekmean_spark.operators.analytic import asof_join

    left = spark.createDataFrame([Row(k=1, lt=100)])
    right = spark.createDataFrame([Row(k=1, rt=50, a=7, b="x")])
    r = asof_join(left, right, "k", "lt", "rt", ["a", "b"]).first()
    assert (r.a, r.b) == (7, "x") and r.lt == 100


def test_udtf_matches_hof_shingles(spark, sf_small):
    """The Python UDTF off-ramp produces exactly the grams the
    production higher-order-function path produces."""
    from mapreducekmean_spark.functions.udtfs import register_udtfs
    from mapreducekmean_spark.operators.dedup import shingles
    from mapreducekmean_spark.operators.text import documents

    register_udtfs(spark)
    docs = documents(spark, sf_small).limit(50)
    docs.createOrReplaceTempView("udtf_docs")
    got = {
        (r.doc_id, r.pos, r.ngram)
        for r in spark.sql(
            "SELECT t.doc_id, g.pos, g.ngram "
            "FROM udtf_docs t, LATERAL explode_ngrams(t.text, 3) g"
        ).collect()
    }
    want = {
        (r.doc_id, r.pos, r.ngram)
        for r in docs.select(
            "doc_id", F.posexplode(shingles()).alias("pos", "ngram")
        ).collect()
    }
    assert got == want and len(want) > 0


def test_embedding_near_dup_guards_driver_collect(spark, sf_small, monkeypatch):
    """The brute-force near-dup baseline must refuse to collect tables
    past its broadcast-contract bound and steer to the O(n) paths."""
    import mapreducekmean_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "NEAR_DUP_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        sim.embedding_near_dup(spark, sf_small)


def test_winnow_fingerprint_edges(spark):
    """Winnowing edges: 0 grams → empty fp; fewer grams than the window
    → one whole-sequence min; enough grams → len-w+1 windows, distinct
    sorted minima, guaranteed shared fp for shared long runs."""
    import hashlib

    from pyspark.sql import Row

    from mapreducekmean_spark.operators.text import winnow_fingerprint

    long_a = "the quick brown fox jumps over the lazy dog again today"
    long_b = "prefix words here " + long_a  # shares a long run with a
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text=""),                 # 0 tokens
            Row(doc_id=1, text="one two"),          # < 3 tokens: 0 grams
            Row(doc_id=2, text="one two three"),    # 1 gram < w
            Row(doc_id=3, text=long_a),
            Row(doc_id=4, text=long_b),
        ]
    )
    got = {r.doc_id: r for r in winnow_fingerprint(docs).collect()}
    assert got[0].fingerprints == "" and got[0].n_fp == 0
    assert got[1].fingerprints == "" and got[1].n_fp == 0
    h123 = hashlib.md5(b"one two three").hexdigest()[:8]
    assert got[2].fingerprints == h123 and got[2].n_fp == 1
    assert got[3].n_fp >= 1
    fps_a = set(got[3].fingerprints.split(","))
    fps_b = set(got[4].fingerprints.split(","))
    assert fps_a & fps_b, "long shared run must share a fingerprint"


def test_ppm_malformed_payloads_hit_gate_not_parse_error():
    """Truncated/malformed P6 payloads must fall through to the honest
    NotImplementedError capability gate, never surface ValueError/
    IndexError from the parser (ADVICE r2)."""
    from mapreducekmean_spark import multimodal as mm

    malformed = [
        b"P6",                          # header magic alone
        b"P6\n# comment with no newline",
        b"P6\n4 2\n255\n\x00\x00",      # pixel data short of w*h*3
        b"P6\nxx yy zz\n",              # non-integer tokens
        b"P6\n-4 2\n255\n" + b"\x00" * 24,  # negative width
        b"P6\n4 2\n65535\n" + b"\x00" * 48,  # 16-bit maxval unsupported
    ]
    for payload in malformed:
        assert mm._decode_image_rgb(payload) is None
        with pytest.raises(NotImplementedError):
            mm.decode_payload(payload, "image", fake_codec=False)


def test_bmp_malformed_payloads_hit_gate_not_parse_error():
    """Unsupported/truncated BMP payloads must fall through to the
    capability gate like the PPM/WAV branches, never surface a parse
    exception."""
    import struct

    from mapreducekmean_spark import multimodal as mm

    def bmp_hdr(w, h, bpp, compression, body):
        off = 54
        return (
            struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                len(body), 0, 0, 0, 0,
            )
            + body
        )

    malformed = [
        b"BM",                                   # magic alone
        b"BM" + b"\x00" * 20,                    # shorter than any header
        bmp_hdr(2, 2, 24, 1, b"\x00" * 16),      # RLE8-compressed
        bmp_hdr(2, 2, 8, 0, b"\x00" * 8),        # paletted 8-bit
        bmp_hdr(4, 4, 24, 0, b"\x00" * 8),       # pixel data truncated
        bmp_hdr(-3, 2, 24, 0, b"\x00" * 24),     # negative width
        bmp_hdr(3, 0, 24, 0, b""),               # zero height
    ]
    for payload in malformed:
        assert mm._decode_image_rgb(payload) is None
        with pytest.raises(NotImplementedError):
            mm.decode_payload(payload, "image", fake_codec=False)


def test_png_malformed_payloads_hit_gate_not_parse_error():
    """Unsupported/truncated PNG payloads must fall through to the
    capability gate like the PPM/BMP/WAV branches, never surface a parse
    or zlib exception."""
    import struct
    import zlib

    from mapreducekmean_spark import multimodal as mm

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def png(depth=8, color=2, interlace=0, idat=None, plte=None, w=2, h=2):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        out = sig + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        if idat is not None:
            out += chunk(b"IDAT", idat)
        return out + chunk(b"IEND", b"")

    ok_raw = zlib.compress(b"\x00" + b"\x01" * 6 + b"\x00" + b"\x02" * 6)
    malformed = [
        sig,                                     # signature alone
        png(idat=None),                          # no IDAT
        png(depth=16, idat=ok_raw),              # 16-bit unsupported
        png(interlace=1, idat=ok_raw),           # Adam7 unsupported
        png(color=3, idat=ok_raw, plte=None),    # palette without PLTE
        png(idat=b"not-a-zlib-stream"),          # corrupt compression
        png(idat=zlib.compress(b"\x00\x01")),    # scanlines truncated
        png(idat=zlib.compress(b"\x07" + b"\x01" * 6 + b"\x00" + b"\x02" * 6)),
        # ^ filter type 7 is invalid
        png(color=3, plte=b"\xff\x00\x00",
            idat=zlib.compress(b"\x00\x02\x02" + b"\x00\x01\x01")),
        # ^ palette index 2 out of range for a 1-entry PLTE
    ]
    for payload in malformed:
        assert mm._decode_image_rgb(payload) is None
        with pytest.raises(NotImplementedError):
            mm.decode_payload(payload, "image", fake_codec=False)


def test_bmp_data_offset_overlapping_header_rejected():
    """A malformed BMP whose data_offset points inside the headers must
    hit the gate, not 'decode' header bytes as pixels (ADVICE r4)."""
    import struct

    from mapreducekmean_spark import multimodal as mm

    body = b"\x00" * 24  # enough bytes for 2x2x24bpp at offset 0
    for bad_offset in (0, 13, 53):  # anything < 14 + 40
        payload = (
            struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, bad_offset)
            + struct.pack(
                "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(body), 0, 0, 0, 0
            )
            + body
        )
        assert mm._decode_image_rgb(payload) is None
        with pytest.raises(NotImplementedError):
            mm.decode_payload(payload, "image", fake_codec=False)


def test_referenced_tables_case_insensitive_with_fallback():
    """SQL identifiers are case-insensitive; unrecognized spellings must
    degrade to register-everything, not TABLE_OR_VIEW_NOT_FOUND
    (ADVICE r2)."""
    from mapreducekmean_spark.sources import TABLES
    from mapreducekmean_spark.sql import referenced_tables

    assert referenced_tables("SELECT * FROM EVENTS") == ("events",)
    assert referenced_tables("select o_custkey from Orders") == ("orders",)
    # nothing recognizable -> fall back to all tables
    assert referenced_tables('SELECT 1 FROM "t"') == tuple(TABLES)


def test_run_sql_uppercase_table(spark, sf_small):
    from mapreducekmean_spark.sql import run_sql

    n = run_sql(spark, sf_small, "SELECT count(*) AS n FROM NATION").collect()
    assert n[0]["n"] == 25


def test_value_paths_guard_null_nan(spark):
    """value_histogram/value_quantiles/purchases_with_recent_views must
    drop NULL/NaN `value` rows (cross-engine divergence guard, ADVICE
    r2) and floor negative cents like DuckDB's // operator."""
    import datetime

    from mapreducekmean_spark.operators import events as ev

    ts0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        Row(event_id=1, user_id=1, event_type="view",
            ts=ts0, value=float("nan"), props="{}"),
        Row(event_id=2, user_id=1, event_type="view",
            ts=ts0, value=None, props="{}"),
        Row(event_id=3, user_id=1, event_type="view",
            ts=ts0, value=-25.0, props="{}"),
        Row(event_id=4, user_id=1, event_type="view",
            ts=ts0, value=10.0, props="{}"),
        Row(event_id=5, user_id=1, event_type="purchase",
            ts=ts0 + datetime.timedelta(hours=1), value=99.0, props="{}"),
    ]
    df = spark.createDataFrame(rows)

    hist = {(r.event_type, r.bucket): r.n
            for r in ev.value_histogram(df).collect()}
    # NaN/NULL rows dropped; -25.00 -> cents -2500 -> floor(-2500/5000) = -1
    assert hist == {("view", -1): 1, ("view", 0): 1, ("purchase", 1): 1}

    q = {r.event_type: r for r in ev.value_quantiles(df).collect()}
    assert q["view"].n == 2  # NaN and NULL excluded from the CDF
    assert q["view"].p50 == -25.0 and q["view"].p99 == 10.0

    rj = ev.purchases_with_recent_views(df).collect()
    assert len(rj) == 1
    # only the two finite-valued views join; -25.00 + 10.00 = -15.00
    assert rj[0]["n_views"] == 2 and rj[0]["view_value"] == -15.0


def test_minhash_verified_dedup_semantics(spark):
    """End-to-end pipeline policy: verified high-Jaccard pairs drop the
    higher id with the smallest partner as canonical; low-Jaccard
    bucket-collisions survive verification; shingle-less docs are kept."""
    from mapreducekmean_spark.operators.dedup import minhash_verified_dedup

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet green meadow beside the old stone bridge"
    )
    rows = [
        Row(doc_id=1, text=base, lang="en", source="s"),
        # near-identical: one word changed -> high true Jaccard
        Row(doc_id=2, text=base.replace("quiet", "silent"), lang="en", source="s"),
        # identical again: chains 1~2, 1~3, 2~3
        Row(doc_id=3, text=base, lang="en", source="s"),
        Row(doc_id=4, text="completely unrelated words about spark engines "
                           "and parquet files in a data lake", lang="en", source="s"),
        Row(doc_id=5, text="too short", lang="en", source="s"),  # no shingles
    ]
    docs = spark.createDataFrame(rows)
    got = {r.doc_id: r for r in minhash_verified_dedup(docs).collect()}
    assert len(got) == 5
    assert got[1].kept and got[1].dup_of is None
    assert not got[2].kept and got[2].dup_of == 1
    assert not got[3].kept and got[3].dup_of == 1
    assert got[4].kept
    assert got[5].kept


def test_duplicate_clusters_transitive_closure(spark):
    """Connected components over verified pairs: the near-identical
    trio lands in ONE cluster labeled by the smallest id; unrelated and
    shingle-less docs are singletons."""
    from mapreducekmean_spark.operators.dedup import duplicate_clusters

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet green meadow beside the old stone bridge"
    )
    rows = [
        Row(doc_id=1, text=base, lang="en", source="s"),
        Row(doc_id=2, text=base.replace("quiet", "silent"), lang="en", source="s"),
        Row(doc_id=3, text=base, lang="en", source="s"),
        Row(doc_id=4, text="completely unrelated words about spark engines "
                           "and parquet files in a data lake", lang="en", source="s"),
        Row(doc_id=5, text="too short", lang="en", source="s"),
    ]
    got = {
        r.doc_id: (r.rep, r.cluster_size)
        for r in duplicate_clusters(spark.createDataFrame(rows)).collect()
    }
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
    assert got[4] == (4, 1) and got[5] == (5, 1)


def test_connected_components_long_chain(spark):
    """Diameter robustness: a 200-node path graph (diameter 199) must
    converge in O(log diameter) rounds via pointer jumping — max_iter=12
    would take 199 rounds under plain min-label propagation."""
    from mapreducekmean_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(199)]
    )
    stats: dict = {}
    labels = connected_components(edges, max_iter=12, stats=stats).collect()
    assert len(labels) == 200
    assert all(r.rep == 0 for r in labels)
    # pin the O(log diameter) bound tighter than max_iter (which the
    # RuntimeError already enforces): ceil(log2(199)) = 8, +2 slack for
    # the propagation/confirmation rounds
    assert stats["rounds"] <= 10


def test_connected_components_raises_on_round_exhaustion(spark):
    """A silent non-converged return would hand back non-minimal labels;
    the loop must raise instead when max_iter is exhausted."""
    import pytest as _pytest

    from mapreducekmean_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(30)]
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(edges, max_iter=1)


def test_jpeg_roundtrip_444_quantization_lossless():
    """Baseline JPEG codec pair, q=1 4:4:4: quantization is the
    identity, so round-trip error is bounded by DCT float rounding +
    the YCbCr transform alone — the strongest self-test a codec pair
    can run without golden bytes. Odd dimensions exercise the edge-pad
    path."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(21, 34, 3), dtype=np.uint8)
    out = mm._decode_jpeg_rgb(mm._encode_jpeg(img, subsample=False, q=1))
    assert out is not None and out.shape == img.shape
    assert int(np.abs(out.astype(int) - img.astype(int)).max()) <= 2


def test_jpeg_roundtrip_420_subsampled():
    """4:2:0 chroma subsampling: the luma plane survives at full
    precision; chroma error is bounded by the 2x2 averaging on a
    smooth gradient."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    yy, xx = np.mgrid[0:40, 0:56]
    img = np.stack(
        [(yy * 3 + xx) % 256, (xx * 2) % 256, (yy * 5) % 256], axis=2
    ).astype(np.uint8)
    out = mm._decode_jpeg_rgb(mm._encode_jpeg(img, subsample=True, q=2))
    assert out is not None and out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert int(err.max()) <= 8 and float(err.mean()) < 2.0


def test_jpeg_feeds_feature_and_resize_pipelines():
    """A real JPEG payload must decode through decode_payload (the
    capability gate no longer fires for baseline JPEG) and through the
    resize kernel."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    payload = mm._encode_jpeg(img, q=2)
    feats = mm.decode_payload(payload, "image", fake_codec=False)
    assert len(feats) == mm.FEATURE_DIM
    rgb = mm._decode_image_rgb(payload)
    small = mm._resize_rgb(rgb, 8)
    assert small.shape[2] == 3 and max(small.shape[:2]) == 8


def test_jpeg_malformed_payloads_hit_gate_not_parse_error():
    """Unsupported/truncated JPEG payloads must fall through to the
    capability gate like every other codec branch: progressive (SOF2),
    12-bit, truncated entropy data, missing scan."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    good = bytearray(mm._encode_jpeg(img, q=2))

    progressive = bytes(good).replace(b"\xff\xc0", b"\xff\xc2", 1)
    twelve_bit = bytearray(good)
    sof_at = bytes(good).index(b"\xff\xc0")
    twelve_bit[sof_at + 4] = 12  # precision byte
    truncated = bytes(good[: len(good) // 2])
    soi_only = b"\xff\xd8\xff\xd9"
    malformed = [progressive, bytes(twelve_bit), truncated, soi_only]
    for payload in malformed:
        assert mm._decode_image_rgb(bytes(payload)) is None
        with pytest.raises(NotImplementedError):
            mm.decode_payload(bytes(payload), "image", fake_codec=False)


def test_jpeg_grayscale_and_noninterleaved_sampling_factors():
    """Single-component (grayscale) JPEGs decode in plain raster order
    regardless of the sampling factors the frame declares — a
    single-component scan is NON-interleaved per the standard, so a
    file whose sole component claims H=V=2 must decode identically to
    the same blocks declared H=V=1."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(23)
    img = rng.integers(0, 256, size=(20, 28, 3), dtype=np.uint8)
    data = mm._encode_jpeg(img, q=1, gray=True)
    out = mm._decode_jpeg_rgb(data)
    assert out is not None and out.shape == img.shape
    # all three output channels carry the luma
    assert (out[:, :, 0] == out[:, :, 1]).all()
    y = (
        0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
    )
    assert int(np.abs(out[:, :, 0].astype(int) - np.round(y)).max()) <= 2
    # patch the declared sampling factors to 2x2: decode must not change
    sof_at = data.index(b"\xff\xc0")
    comp_hv_at = sof_at + 4 + 6 + 1  # marker+len + prec/h/w/nc + cid
    assert data[comp_hv_at] == 0x11
    patched = data[:comp_hv_at] + b"\x22" + data[comp_hv_at + 1 :]
    out2 = mm._decode_jpeg_rgb(patched)
    assert out2 is not None and (out2 == out).all()


def test_jpeg_fill_bytes_before_markers_accepted():
    """Any number of 0xFF fill bytes may precede a marker; a spec-valid
    file using them must decode, not hit the capability gate."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    data = mm._encode_jpeg(img, q=1)
    base = mm._decode_jpeg_rgb(data)
    dqt_at = data.index(b"\xff\xdb")
    padded = data[:dqt_at] + b"\xff" + data[dqt_at:]
    out = mm._decode_jpeg_rgb(padded)
    assert out is not None and (out == base).all()


def test_decontaminate_invariants(spark, sf_small):
    """Structural invariants beyond the oracle: output is exactly the
    training slice; hits never exceed gram counts; contaminated iff
    hits > 0; and planting an eval doc's full text into a training doc
    makes it contaminated."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.dedup import decontaminate
    from mapreducekmean_spark.operators.text import documents

    docs = documents(spark, sf_small)
    out = decontaminate(docs).collect()
    train_ids = {
        r.doc_id for r in docs.select("doc_id").collect() if r.doc_id % 20
    }
    assert {r.doc_id for r in out} == train_ids
    for r in out:
        assert 0 <= r.n_hits <= r.n_grams
        assert r.contaminated == (r.n_hits > 0)
    # plant a leak: copy eval doc 0's text onto a clean training doc
    eval_text = docs.filter(F.col("doc_id") == 0).collect()[0].text
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 1, F.lit(eval_text)).otherwise(
            F.col("text")
        ),
    )
    got = {
        r.doc_id: r.contaminated
        for r in decontaminate(planted).collect()
    }
    assert got[1] is True


def test_embedding_quantize_invariants(spark, sf_small):
    """Codes stay in 0..255; q_norm2 equals the integer self-dot of the
    emitted codes; per-dimension min maps to code 0 and max to 255."""
    from mapreducekmean_spark.operators.similarity import (
        quantize_embeddings,
    )

    rows = quantize_embeddings(spark, sf_small).collect()
    assert rows
    mins = [min(r.qvec[i] for r in rows) for i in range(len(rows[0].qvec))]
    maxs = [max(r.qvec[i] for r in rows) for i in range(len(rows[0].qvec))]
    for r in rows:
        assert all(0 <= v <= 255 for v in r.qvec)
        assert r.q_norm2 == sum(v * v for v in r.qvec)
    assert all(v == 0 for v in mins)
    assert all(v == 255 for v in maxs)


def test_dataset_mixture_deterministic_and_rate_shaped(spark, sf_small):
    """The coin is a pure function of doc_id: two runs agree exactly;
    rate-1.0 sources keep everything; observed keep rates sit near the
    configured targets."""
    from mapreducekmean_spark.operators.text import (
        dataset_mixture,
        documents,
    )

    docs = documents(spark, sf_small)
    a = {r.doc_id: r.kept for r in dataset_mixture(docs).collect()}
    b = {r.doc_id: r.kept for r in dataset_mixture(docs).collect()}
    assert a == b
    rows = dataset_mixture(docs).collect()
    by_rate: dict = {}
    for r in rows:
        by_rate.setdefault(r.target_frac, []).append(r.kept)
    assert all(by_rate[1.0])
    for rate, kept in by_rate.items():
        if rate < 1.0 and len(kept) >= 50:
            obs = sum(kept) / len(kept)
            assert abs(obs - rate) < 0.2, (rate, obs)


def test_jpeg_422_and_restart_intervals():
    """The decoder's 4:2:2 layout and DRI/RSTn restart path, fed by the
    encoder's explicit sampling and restart options: 4:2:2 round-trips
    with a tight luma bound, and a restart-marker stream decodes
    identically to the same image without restarts."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    # smooth gradient: random chroma is out-of-gamut-pathological under
    # subsampling (clipping legitimately moves luma, see the 4:2:0
    # property test's analytic-reference treatment)
    yy, xx = np.mgrid[0:22, 0:37]
    img = np.stack(
        [(yy * 4 + xx) % 256, (xx * 3) % 256, (yy * 2 + xx) % 256], axis=2
    ).astype(np.uint8)
    out = mm._decode_jpeg_rgb(mm._encode_jpeg(img, sampling="422", q=1))
    assert out is not None and out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert int(err.max()) <= 8 and float(err.mean()) < 2.0
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(22, 37, 3), dtype=np.uint8)
    base = mm._decode_jpeg_rgb(mm._encode_jpeg(img, q=1))
    with_rst = mm._decode_jpeg_rgb(
        mm._encode_jpeg(img, q=1, restart_interval=2)
    )
    assert with_rst is not None and (with_rst == base).all()


def test_doc_repetition_constructed_docs(spark):
    """Each repetition signal trips on a document built to trip exactly
    it; degenerate docs (one token / empty) report NULL fractions and
    are never flagged by them."""
    from mapreducekmean_spark.operators.text import doc_repetition

    docs = spark.createDataFrame(
        [
            # longest run 5 -> run filter trips
            (1, "alpha buy buy buy buy buy beta gamma delta"),
            # one bigram dominates ("spam ham" 4 of 7 bigrams)
            (2, "spam ham spam ham spam ham spam ham"),
            # varied text: nothing trips
            (3, "the quick brown fox jumps over a lazy dog tonight"),
            (4, "solo"),  # no bigrams: NULL fracs, run 1
            (5, ""),  # no tokens at all
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in doc_repetition(docs).collect()}
    assert got[1].max_token_run == 5 and got[1].repetitive
    assert got[2].top_bigram_frac > 0.5 and got[2].repetitive
    assert not got[3].repetitive and got[3].max_token_run == 1
    assert got[4].top_bigram_frac is None and not got[4].repetitive
    assert got[4].max_token_run == 1
    assert got[5].top_bigram_frac is None and got[5].max_token_run == 0
    assert not got[5].repetitive


def test_pack_sequences_two_level_matches_naive(spark):
    """The distributed two-level prefix sum must equal the naive
    per-source running sum — exercised across a PACK_BUCKET_DOCS
    boundary (doc_ids straddle bucket 0/1), with a doc longer than the
    budget (spans >= 2 sequences) and a zero-token doc."""
    from mapreducekmean_spark.operators.text import (
        PACK_BUCKET_DOCS,
        PACK_BUDGET,
        pack_sequences,
    )

    assert PACK_BUCKET_DOCS == 1000  # fixture ids below straddle it
    rows = [
        (997, "s1", "one two three"),
        (999, "s1", " ".join(["tok"] * 70)),  # > budget: spans 2 seqs
        (1000, "s1", "a b c d e"),
        (1002, "s1", ""),  # zero tokens
        (1003, "s1", "x y"),
        (998, "s2", " ".join(["w"] * 64)),  # exactly one full seq
        (1001, "s2", "p q r"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    got = {r.doc_id: r for r in pack_sequences(docs).collect()}

    # naive reference: per source, doc_id order, running token count
    import re

    cum: dict = {}
    for doc_id, src, text in sorted(rows):
        n = len(re.findall("[a-z0-9]+", text.lower()))
        start = cum.get(src, 0)
        cum[src] = start + n
        r = got[doc_id]
        assert r.n_tok == n and r.start_tok == start, doc_id
        if n == 0:
            assert r.first_seq is None and r.n_seqs == 0
            assert r.seq_offset is None
        else:
            assert r.first_seq == start // PACK_BUDGET
            assert r.last_seq == (start + n - 1) // PACK_BUDGET
            assert r.n_seqs == r.last_seq - r.first_seq + 1
            assert r.seq_offset == start % PACK_BUDGET
    assert got[999].n_seqs == 2  # the long doc straddles a cut
    assert got[998].first_seq == 0 and got[998].last_seq == 0


def test_hourly_anomaly_flags_spike_and_silence(spark):
    """MAD detector semantics on a constructed stream: a steady 5
    events/hour for two days, one 60-event spike hour, one silent hour
    (present only via gap-fill) — exactly those two cells flag."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.events import hourly_anomaly

    rows = []
    eid = 0
    for h in range(48):
        if h == 20:
            n = 60  # spike
        elif h == 30:
            n = 0  # silence — only the gap-filled grid can see it
        else:
            n = 5
        for i in range(n):
            rows.append((eid, h * 3600 + i, 1, "view"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id bigint, s bigint, user_id bigint, event_type string"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_seconds("s").alias("ts"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    out = {
        r.hour_start_s: r
        for r in hourly_anomaly(ev).filter("event_type = 'view'").collect()
    }
    assert len(out) == 48  # dense grid incl. the silent hour
    flagged = {h for h, r in out.items() if r.is_anomaly}
    assert flagged == {20 * 3600, 30 * 3600}
    assert out[20 * 3600].n == 60 and out[30 * 3600].n == 0
    assert out[0].med == 5 and out[0].mad == 0


def test_lsh_hot_bucket_degrades_to_star_and_stays_bounded(spark):
    """The hot-bucket guard: 10k byte-identical docs that SKIPPED the
    staged exact dedup collapse into one bucket per band; the
    candidate set must complete as the linear STAR centered on the
    minimum doc_id (9,999 pairs), never the ~50M-pair clique — and the
    duplicate clustering still groups the entire mass through the
    center."""
    from mapreducekmean_spark.operators.dedup import (
        duplicate_clusters,
        minhash_candidate_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet green meadow beside the old stone bridge"
    )
    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit(base).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s").alias("source"),
    )
    pairs = minhash_candidate_pairs(docs).collect()
    assert len(pairs) == 9_999
    assert all(r.doc_a == 0 and r.doc_b > 0 for r in pairs)
    clusters = {
        r.doc_id: (r.rep, r.cluster_size)
        for r in duplicate_clusters(docs).collect()
    }
    assert len(clusters) == 10_000
    assert all(v == (0, 10_000) for v in clusters.values())


def test_lsh_hot_bucket_cap_is_lossless_below_cap(spark):
    """The staging contract's losslessness pin: when every bucket is
    under the cap (any exact-deduped corpus — here the standard mixed
    fixture), the guarded output is IDENTICAL to the uncapped clique."""
    from mapreducekmean_spark.operators.dedup import minhash_candidate_pairs
    from mapreducekmean_spark.operators.text import documents

    docs = documents(spark, "/root/testdata/sf0.001")
    capped = sorted(
        tuple(r) for r in minhash_candidate_pairs(docs).collect()
    )
    uncapped = sorted(
        tuple(r)
        for r in minhash_candidate_pairs(
            docs, max_bucket_rows=10**9
        ).collect()
    )
    assert capped == uncapped and capped


def test_lsh_hot_bucket_star_plus_clique(spark):
    """The guard's mixed case: a 40-doc identical flood trips the cap in
    every band (star on the flood minimum) while an unrelated near-dup
    pair stays in the under-cap clique — the star and the clique meet
    in one output, and outside the flood it equals the uncapped
    output."""
    from mapreducekmean_spark.operators.dedup import minhash_candidate_pairs

    flood = (
        "the quick brown fox jumps over the lazy dog while rain falls "
        "softly on the quiet green meadow beside the old stone bridge"
    )
    near = (
        "river barges carry timber downstream past mills and orchards "
        "toward the harbour where merchants weigh grain at dawn {}"
    )
    docs = spark.createDataFrame(
        [(i, flood) for i in range(40)]
        + [(100, near.format("daily")), (101, near.format("weekly"))],
        "doc_id bigint, text string",
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"), F.lit("s").alias("source")
    )
    capped = {
        tuple(r) for r in minhash_candidate_pairs(
            docs, max_bucket_rows=8
        ).collect()
    }
    flood_edges = {p for p in capped if p[1] < 100}
    assert flood_edges == {(0, j) for j in range(1, 40)}
    assert (100, 101) in capped
    uncapped = {
        tuple(r) for r in minhash_candidate_pairs(
            docs, max_bucket_rows=10**9
        ).collect()
    }
    assert capped - flood_edges == {p for p in uncapped if p[0] >= 100}


@pytest.mark.parametrize(
    "entry", ["verified_pairs", "containment_pairs", "dedup_delta"]
)
def test_counting_join_scorers_refuse_nonpositive_threshold(spark, entry):
    """The counting join drops zero-intersection candidates, so every
    public scorer over it refuses ``threshold <= 0`` — before any job
    runs."""
    from mapreducekmean_spark.operators import dedup
    from mapreducekmean_spark.operators.incremental import dedup_delta

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma epsilon")],
        "doc_id bigint, text string",
    )
    call = {
        "verified_pairs": lambda: dedup.verified_pairs(docs, threshold=0.0),
        "containment_pairs": lambda: dedup.containment_pairs(
            docs, threshold=0.0
        ),
        "dedup_delta": lambda: dedup_delta(
            spark, docs, "no_such_index", threshold=0.0
        ),
    }[entry]
    sc = spark.sparkContext
    group = f"threshold-guard-{entry}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match=r"threshold > 0"):
            call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_seasonal_anomaly_ignores_periodic_nights(spark):
    """The seasonal baseline's reason to exist, pinned: a daily-periodic
    stream (20 events/hour daytime, 1 event/hour at night, 14 days) plus
    ONE genuinely silent noon. The global detector false-positives on
    every normal quiet night (the type-wide median is the daytime rate,
    MAD 0); the seasonal detector judges each hour against its own
    wall-clock hour and flags EXACTLY the silent noon."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.events import (
        hourly_anomaly,
        hourly_anomaly_seasonal,
    )

    rows = []
    eid = 0
    for day in range(14):
        for hod in range(24):
            if day == 7 and hod == 12:
                n = 0  # the one real anomaly: a silent noon
            elif 8 <= hod <= 20:
                n = 20  # daytime
            else:
                n = 1  # normal quiet night — NOT an anomaly
            for i in range(n):
                rows.append((eid, (day * 24 + hod) * 3600 + i, 1, "view"))
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id bigint, s bigint, user_id bigint, event_type string"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_seconds("s").alias("ts"),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    night_hours = {
        (day * 24 + hod) * 3600
        for day in range(14)
        for hod in list(range(8)) + [21, 22, 23]
    }
    silent_noon = (7 * 24 + 12) * 3600

    global_flags = {
        r.hour_start_s
        for r in hourly_anomaly(ev).filter("is_anomaly").collect()
    }
    assert silent_noon in global_flags  # both see the real anomaly
    assert night_hours <= global_flags  # …but global drowns in nights

    seasonal = hourly_anomaly_seasonal(ev).collect()
    assert len(seasonal) == 14 * 24  # dense grid preserved
    seasonal_flags = {r.hour_start_s for r in seasonal if r.is_anomaly}
    assert seasonal_flags == {silent_noon}
    by_hour = {r.hour_start_s: r for r in seasonal}
    assert by_hour[silent_noon].med == 20 and by_hour[silent_noon].n == 0
    assert by_hour[3 * 3600].med == 1  # 3am judged against other 3ams


def test_doc_top_terms_semantics(spark):
    """Keyword extraction on a hand-checkable corpus: a term unique to
    one doc outranks corpus-wide terms (idf ratio), repeated terms
    outrank singletons at equal df (tf), and ties break on the term."""
    from mapreducekmean_spark.operators.text import doc_top_terms

    rows = [
        Row(doc_id=1, text="common rare rare unique1", lang="en", source="s"),
        Row(doc_id=2, text="common rare", lang="en", source="s"),
        Row(doc_id=3, text="common zebra apple", lang="en", source="s"),
    ]
    out = {
        (r.doc_id, r.rk): (r.term, r.tf, r.df, r.score)
        for r in doc_top_terms(spark.createDataFrame(rows), k=3).collect()
    }
    # doc 1: rare tf=2 df=2 -> 2*3/2=3.0; unique1 tf=1 df=1 -> 3.0;
    # tie at 3.0 breaks on term: "rare" < "unique1"
    assert out[(1, 1)][0] == "rare" and out[(1, 1)][3] == 3.0
    assert out[(1, 2)][0] == "unique1" and out[(1, 2)][3] == 3.0
    assert out[(1, 3)][0] == "common" and out[(1, 3)][3] == 1.0
    # doc 3: the two unique terms (3.0 each, term order) beat common
    assert out[(3, 1)][0] == "apple" and out[(3, 2)][0] == "zebra"


def _stripe_img(h=48, w=64, flip_first=0):
    """Deterministic high-contrast vertical stripes aligned to the
    dHash sample grid (9 columns): adjacent sampled lumas differ by
    180, far above JPEG-q=1's ±2 error, so a lossy re-encode cannot
    flip a comparison bit. ``flip_first`` inverts the first n stripes —
    a controlled perceptual edit that flips a known handful of bits."""
    import numpy as np

    img = np.zeros((h, w, 3), dtype=np.uint8)
    for x in range(w):
        stripe = (x * 9) // w
        lum = 220 if stripe % 2 == 0 else 40
        img[:, x, :] = lum
        if stripe < flip_first:
            # invert this stripe in the TOP QUARTER only (the region
            # the first two sampled rows read) — a localized edit that
            # flips 2 bits per inverted stripe boundary, well inside
            # the Hamming radius
            img[: h // 4, x, :] = 260 - lum
    return img


def test_dhash_survives_reencoding_and_bands_find_the_pairs(spark):
    """The perceptual near-dup pin: the SAME pixels re-encoded through
    three real codecs (PPM, GIF — lossless; JPEG q=1 — ±2 lossy) hash
    identically / within the Hamming radius; a mild perceptual edit
    stays within radius; an unrelated noise image pairs with none.
    dhash_near_dup_pairs (banded, never all-pairs) finds exactly the
    near-dup clique."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    base = _stripe_img()
    edited = _stripe_img(flip_first=1)  # flips 2 bits (rows 0-1, c=0)
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, size=(48, 64, 3), dtype=np.uint8)

    payloads = {
        1: mm._encode_ppm(base),
        2: mm._encode_gif(base),
        3: mm._encode_jpeg(base, subsample=False, q=1),
        4: mm._encode_ppm(edited),
        5: mm._encode_ppm(noise),
        6: b"not an image",  # must gate, not crash
    }
    assets = spark.createDataFrame(
        [(k, "image", bytearray(v)) for k, v in payloads.items()],
        "asset_id bigint, modality string, payload binary",
    )
    hashes = mm.image_dhash(assets)
    rows = {r.asset_id: r for r in hashes.collect()}
    assert not rows[6].ok and rows[6].dh_hi is None
    assert all(rows[k].ok for k in (1, 2, 3, 4, 5))
    # lossless re-encodes: identical halves
    assert (rows[1].dh_hi, rows[1].dh_lo) == (rows[2].dh_hi, rows[2].dh_lo)
    # lossy re-encode: within the radius (stripe contrast >> JPEG error)
    def ham(a, b):
        return bin(a.dh_hi ^ b.dh_hi).count("1") + bin(
            a.dh_lo ^ b.dh_lo
        ).count("1")

    assert ham(rows[1], rows[3]) <= mm.DHASH_MAX_HAMMING
    # the controlled edit flips exactly one comparison per sampled row
    assert 0 < ham(rows[1], rows[4]) <= mm.DHASH_MAX_HAMMING

    pairs = {
        (r.doc_a, r.doc_b)
        for r in mm.dhash_near_dup_pairs(hashes).collect()
    }
    assert {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)} <= pairs
    assert not any(5 in p or 6 in p for p in pairs)


def test_image_dhash_real_payloads_decode_and_match_closed_form(spark):
    """The in-query P6 synthesis emits VALID payloads (every row
    decodes ok=true through the real parser) and the decoded halves
    equal the closed-form arithmetic the DuckDB twin computes — a
    pure-Python recomputation from doc_id alone, no decoding."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark import multimodal as mm

    ids = [0, 1, 37, 251, 499, 12345]
    docs = spark.createDataFrame(
        [(i,) for i in ids], "doc_id bigint"
    )
    rows = {r.asset_id: r for r in mm.image_dhash_real(docs).collect()}
    assert set(rows) == set(ids)
    for d in ids:
        assert rows[d].ok

        def v(i):
            return (d * (i + 1)) % 251

        hi = sum(
            1 << ((r % 4) * 8 + c)
            for r in range(4)
            for c in range(8)
            if v(r * 9 + c) > v(r * 9 + c + 1)
        )
        lo = sum(
            1 << ((r % 4) * 8 + c)
            for r in range(4, 8)
            for c in range(8)
            if v(r * 9 + c) > v(r * 9 + c + 1)
        )
        assert (rows[d].dh_hi, rows[d].dh_lo) == (hi, lo), d
    # the payload really is the engine's own P6 format: byte-identical
    # to _encode_ppm of the same pixel grid
    import numpy as np

    payload = bytes(
        mm.synthetic_p6_assets(docs.filter("doc_id = 37")).collect()[0]
        .payload
    )
    grid = np.array(
        [[(37 * (r * 9 + c + 1)) % 251 for c in range(9)] for r in range(8)],
        dtype=np.uint8,
    )
    rgb = np.stack([grid, grid, grid], axis=-1)
    assert payload == mm._encode_ppm(rgb)


def test_doc_grid_dhash_matches_python_reference(spark):
    """The oracle-facing grid dHash replays the documented arithmetic
    exactly: a pure-Python recomputation over the same tokens equals
    the distributed halves for every doc."""
    import hashlib

    from mapreducekmean_spark import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two"), (3, "solo")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.dh_hi, r.dh_lo)
        for r in mm.doc_grid_dhash(docs).collect()
    }
    texts = {1: "alpha beta gamma delta", 2: "one two", 3: "solo"}
    for did, text in texts.items():
        toks = text.split()
        hi = lo = 0
        for r in range(8):
            for c in range(8):
                def px(pos):
                    tok = toks[pos % len(toks)]
                    return ord(
                        hashlib.md5(tok.encode()).hexdigest()[r % 4]
                    )
                b = 1 if px(9 * r + c) > px(9 * r + c + 1) else 0
                if r < 4:
                    hi |= b << (r * 8 + c)
                else:
                    lo |= b << ((r - 4) * 8 + c)
        assert got[did] == (hi, lo), did


def test_doc_grid_audio_fp_matches_python_reference(spark):
    """The oracle-facing audio envelope replays the documented
    arithmetic exactly: a pure-Python recomputation over the same
    tokens equals the distributed halves for every doc — and the
    halves ride the SHARED dhash_near_dup_pairs matcher (exact-dup
    docs pair at Hamming 0)."""
    import hashlib

    from mapreducekmean_spark import multimodal as mm

    texts = {1: "alpha beta gamma delta", 2: "one two", 3: "alpha beta gamma delta"}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.dh_hi, r.dh_lo)
        for r in mm.doc_grid_audio_fp(docs).collect()
    }
    for did, text in texts.items():
        toks = text.split()

        def e(j):
            tok = toks[j % len(toks)]
            return ord(hashlib.md5(tok.encode()).hexdigest()[j % 4])

        hi = lo = 0
        for w in range(mm.FP_WINDOWS - 1):
            b = 1 if e(w) > e(w + 1) else 0
            if w < 32:
                hi |= b << w
            else:
                lo |= b << (w - 32)
        assert got[did] == (hi, lo), did
    pairs = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in mm.dhash_near_dup_pairs(
            mm.doc_grid_audio_fp(docs)
        ).collect()
    }
    assert (1, 3, 0) in pairs
    assert not any(2 in (a, b) for a, b, _ in pairs)


def test_doc_grid_video_dhash_clip_vote(spark):
    """The oracle-facing clip slice: frame-salted grids make the SAME
    frame of an exact-dup clip match bit-identically while different
    frames of one clip differ, so the min_shared vote fires with
    n_matched == GRID_FRAMES for exact dups and an unrelated clip
    stays unpaired."""
    from mapreducekmean_spark import multimodal as mm

    dup = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, dup), (2, dup), (3, "completely different token stream")],
        "doc_id bigint, text string",
    )
    h = mm.doc_grid_video_dhash(docs)
    rows = {(r.asset_id, r.frame_idx): (r.dh_hi, r.dh_lo)
            for r in h.collect()}
    assert len(rows) == 3 * mm.GRID_FRAMES and all(
        r is not None for r in rows.values()
    )
    # frame salt: frames within one clip differ...
    assert rows[(1, 0)] != rows[(1, 1)]
    # ...while the same frame of the exact-dup clip matches exactly
    for f in range(mm.GRID_FRAMES):
        assert rows[(1, f)] == rows[(2, f)]
    pairs = {
        (r.clip_a, r.clip_b): r.n_matched
        for r in mm.video_near_dup_pairs(h).collect()
    }
    assert pairs[(1, 2)] == mm.GRID_FRAMES
    assert not any(3 in p for p in pairs)


def test_audio_fingerprint_survives_g711_reencoding(spark):
    """The audio near-dup pin (the image test's twin): the SAME
    samples encoded as PCM-16, A-law, and μ-law WAVs fingerprint
    within the Hamming radius; a different envelope lands far; junk
    and too-short payloads gate. The banded matcher is the SHARED
    dhash_near_dup_pairs — one plumbing for both media."""
    import math
    import struct

    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rate, dur = 16000, 1.0
    t = np.arange(int(rate * dur)) / rate
    env = 0.2 + 0.8 * np.abs(np.sin(2 * math.pi * 3.0 * t))
    tone = np.sin(2 * math.pi * 440.0 * t)
    s16 = np.clip(12000 * env * tone, -32768, 32767).astype(np.int16)
    other16 = np.clip(
        12000 * (0.2 + 0.8 * t / dur) * tone, -32768, 32767
    ).astype(np.int16)

    def pcm_wav(x):
        body = struct.pack(f"<{len(x)}h", *x.tolist())
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        data = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(body)) + body)
        return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data

    def g711_wav(x, law):
        codes = mm._g711_compress(x.astype(np.int64), law)
        body = bytes(bytearray(int(c) & 0xFF for c in codes))
        fmt = struct.pack("<HHIIHH", law, 1, rate, rate, 1, 8)
        data = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(body)) + body)
        return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data

    payloads = {
        1: pcm_wav(s16),
        2: g711_wav(s16, 6),  # A-law of the same samples
        3: g711_wav(s16, 7),  # mu-law of the same samples
        4: pcm_wav(other16),  # different envelope
        5: b"not audio",
        6: pcm_wav(s16[:10]),  # too short to window
    }
    assets = spark.createDataFrame(
        [(k, "audio", bytearray(v)) for k, v in payloads.items()],
        "asset_id bigint, modality string, payload binary",
    )
    rows = {r.asset_id: r for r in mm.audio_fingerprint(assets).collect()}
    assert not rows[5].ok and not rows[6].ok
    assert all(rows[k].ok for k in (1, 2, 3, 4))

    def ham(a, b):
        return bin(a.dh_hi ^ b.dh_hi).count("1") + bin(
            a.dh_lo ^ b.dh_lo
        ).count("1")

    assert ham(rows[1], rows[2]) <= mm.DHASH_MAX_HAMMING
    assert ham(rows[1], rows[3]) <= mm.DHASH_MAX_HAMMING
    assert ham(rows[1], rows[4]) > mm.DHASH_MAX_HAMMING

    pairs = {
        (r.doc_a, r.doc_b)
        for r in mm.dhash_near_dup_pairs(
            mm.audio_fingerprint(assets)
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p for p in pairs)


def test_video_near_dup_finds_reencoded_and_trimmed_clips(spark):
    """The video twin: clip B carries clip A's frames with two extra
    lead-in frames (a trim/offset) and survives detection via ≥2
    matched sampled frames; clip C (different stripe phases) matches
    nothing; junk video gates with one ok=false row. Frame matching is
    the shared banding+Hamming plumbing, fused with the Y4M decode in
    one executor pass."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    def frame_y(phase, w=64, h=16, highs=None):
        # vertical stripes aligned to the 9-col sample grid; ``highs``
        # picks which stripes are bright (default: alternating from
        # ``phase``) — a DIFFERENT highs set changes the content, while
        # a different w is merely a resize, which dHash is invariant to
        # by design
        y = np.zeros((h, w), dtype=np.uint8)
        for x in range(w):
            stripe = (x * 9) // w
            bright = (
                stripe in highs if highs is not None
                else (stripe + phase) % 2 == 0
            )
            y[:, x] = 220 if bright else 40
        return y

    def y4m(frames_y):
        h, w = frames_y[0].shape
        head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()
        body = b"".join(
            b"FRAME\n" + fy.tobytes() + b"\x80" * (w * h) * 2
            for fy in frames_y
        )
        return head + body

    base = [frame_y(p) for p in (0, 1, 0, 1, 0, 1)]
    clip_a = y4m(base)
    clip_b = y4m([frame_y(0), frame_y(0)] + base)  # 2-frame lead-in
    clip_c = y4m(
        [
            frame_y(0, highs={0, 3, 4, 6} if i % 2 == 0 else {1, 2, 5, 8})
            for i in range(6)
        ]
    )

    assets = spark.createDataFrame(
        [
            (1, "video", bytearray(clip_a)),
            (2, "video", bytearray(clip_b)),
            (3, "video", bytearray(clip_c)),
            (4, "video", bytearray(b"AVI junk")),
        ],
        "asset_id bigint, modality string, payload binary",
    )
    fh = mm.video_dhash(assets, every_n=2)
    rows = fh.collect()
    assert any(r.asset_id == 4 and not r.ok for r in rows)
    assert sum(1 for r in rows if r.asset_id == 1 and r.ok) == 3  # 0,2,4

    pairs = {
        (r.clip_a, r.clip_b): r.n_matched
        for r in mm.video_near_dup_pairs(fh).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p or 4 in p for p in pairs)


def test_dhash_hot_bucket_guard_degrades_to_star(spark):
    """The dHash matchers' hot-bucket guard (the minhash_candidate_pairs
    discipline): a flood of identical hashes — the duplicate-explosion
    case that makes the (band, value) self-join quadratic — degrades to
    a STAR on the bucket-min id (linear, every member still pairs with
    the center at Hamming 0), while a corpus with every bucket under the
    cap produces output IDENTICAL to the uncapped clique."""
    from mapreducekmean_spark import multimodal as mm

    # 40 identical hashes (the flood) + one near-dup pair clear of it
    flood = [(i, 0x1234_5678_0000_0000 % (1 << 62), 0xABCD) for i in range(40)]
    pair = [(100, 7 << 32, 9), (101, 7 << 32, 8)]  # hamming 1 (9^8 == 1)
    hashes = spark.createDataFrame(
        flood + pair, "doc_id bigint, dh_hi bigint, dh_lo bigint"
    )

    starred = {
        (r.doc_a, r.doc_b): r.hamming
        for r in mm.dhash_near_dup_pairs(
            hashes, max_bucket_rows=8
        ).collect()
    }
    # flood: exactly n-1 star edges, all centered on the min id, Hamming 0
    flood_edges = {p for p in starred if p[1] < 100}
    assert flood_edges == {(0, j) for j in range(1, 40)}
    assert all(starred[p] == 0 for p in flood_edges)
    # the under-cap pair is untouched by the guard
    assert (100, 101) in starred

    # equivalence pin: all buckets under the cap -> identical output
    capped = sorted(
        map(tuple, mm.dhash_near_dup_pairs(hashes).collect())
    )
    uncapped = sorted(
        map(
            tuple,
            mm.dhash_near_dup_pairs(
                hashes, max_bucket_rows=1 << 40
            ).collect(),
        )
    )
    assert capped == uncapped


def test_video_hot_bucket_guard_clip_flood_stays_linear(spark):
    """A clip flood (30 byte-identical clips) trips the video matcher's
    hot-bucket guard: per-frame buckets degrade to a star on the
    bucket-min (clip, frame), yet every flood clip still reaches the
    vote threshold through the center clip (n_matched = all frames at
    Hamming 0) — the star is lossless for the mass that causes it."""
    from mapreducekmean_spark import multimodal as mm

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta same clip") for i in range(30)]
        + [(200, "unrelated text entirely different tokens")],
        "doc_id bigint, text string",
    )
    fh = mm.doc_grid_video_dhash(docs)
    pairs = {
        (r.clip_a, r.clip_b): r.n_matched
        for r in mm.video_near_dup_pairs(fh, max_bucket_rows=8).collect()
    }
    # star edges only: center clip 0 vs each flood member, full vote
    assert set(pairs) == {(0, j) for j in range(1, 30)}
    assert all(n == mm.GRID_FRAMES for n in pairs.values())

    # equivalence pin: under-cap corpus -> identical to uncapped
    small = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "other")],
        "doc_id bigint, text string",
    )
    sh = mm.doc_grid_video_dhash(small)
    capped = sorted(map(tuple, mm.video_near_dup_pairs(sh).collect()))
    uncapped = sorted(
        map(
            tuple,
            mm.video_near_dup_pairs(sh, max_bucket_rows=1 << 40).collect(),
        )
    )
    assert capped == uncapped == [(1, 2, mm.GRID_FRAMES)]


def test_chunk_documents_boundaries(spark):
    """chunk_documents window math on constructed docs: starts advance
    by stride, every chunk except possibly the last is full-size, the
    last starts within the doc and may be short, overlap tokens repeat
    verbatim, and sub-size / empty docs behave."""
    from mapreducekmean_spark.operators.text import chunk_documents

    toks_20 = " ".join(f"t{i}" for i in range(1, 21))
    docs = spark.createDataFrame(
        [
            (1, toks_20),          # 20 tokens
            (2, "a b c"),          # shorter than one window
            (3, "!!! ??? ..."),    # tokenizes to nothing -> no chunks
        ],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, size=8, stride=6).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    assert [r.start_tok for r in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [
        1, 7, 13, 19,
    ]
    sizes = [r.n_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_id)]
    assert sizes == [8, 8, 8, 2]  # last chunk truncated at token 20
    # overlap: chunk 0 covers tokens 1-8, chunk 1 covers 7-14 -> the
    # 2-token overlap (size - stride) repeats verbatim
    c0 = sorted(by_doc[1], key=lambda r: r.chunk_id)[0].chunk_text.split()
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)[1].chunk_text.split()
    assert c0[-2:] == c1[:2] == ["t7", "t8"]
    # sub-size doc: one short chunk covering everything
    assert [(r.chunk_id, r.n_tokens, r.chunk_text) for r in by_doc[2]] == [
        (0, 3, "a b c")
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, size=0)
    with _pytest.raises(ValueError):
        chunk_documents(docs, stride=0)


def test_domain_quality_filter_threshold_semantics(spark):
    """Per-source threshold: k = ceil(drop_frac * n), q_thr = smallest
    level whose ascending cumulative count reaches k, ties AT the
    threshold kept — so the drop never exceeds drop_frac and a
    uniform-quality source keeps everything."""
    from mapreducekmean_spark.operators.text import domain_quality_filter

    lo = "zz " * 30            # low alpha-variety -> low ttr/quality
    hi = " ".join(f"word{i} more{i} text{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, "a", lo, len(lo)),
            (2, "a", hi, len(hi)),
            (3, "a", hi + " extra tokens here", len(hi) + 19),
            (4, "a", hi + " still different tail", len(hi) + 21),
            # source b: all four docs identical quality -> all kept
            (5, "b", hi, len(hi)),
            (6, "b", hi, len(hi)),
            (7, "b", hi, len(hi)),
            (8, "b", hi, len(hi)),
        ],
        "doc_id bigint, source string, text string, n_chars bigint",
    )
    kept = domain_quality_filter(docs, drop_frac=0.25).collect()
    kept_ids = sorted(r.doc_id for r in kept)
    # source a: k = ceil(0.25*4) = 1 -> threshold = lowest level (the
    # lo doc), ties kept -> everything >= lowest survives INCLUDING the
    # threshold doc itself; the semantics drop strictly-below only
    assert 1 in kept_ids  # the threshold level itself is kept
    assert {2, 3, 4} <= set(kept_ids)
    assert {5, 6, 7, 8} <= set(kept_ids)
    # higher drop_frac: k = ceil(0.75*4) = 3 -> threshold = 3rd level
    # ascending; the lo doc now falls strictly below and is dropped
    kept75 = sorted(
        r.doc_id
        for r in domain_quality_filter(docs, drop_frac=0.75).collect()
        if r.source == "a"
    )
    assert 1 not in kept75 and len(kept75) >= 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        domain_quality_filter(docs, drop_frac=0.0)
    with _pytest.raises(ValueError):
        domain_quality_filter(docs, drop_frac=1.0)


def test_dedup_apply_best_quality_argmax(spark):
    """Quality-argmax survivor selection: the higher-quality copy wins
    regardless of doc_id order; exact quality ties fall back to min
    doc_id; singletons pass through with n_copies=1."""
    from mapreducekmean_spark.operators.dedup import dedup_apply_best

    good = " ".join(f"word{i} alpha{i} beta{i}" for i in range(10))
    padded = "   " + good + "     "   # same normalized content, lower quality
    docs = spark.createDataFrame(
        [
            (10, padded),   # smaller id, worse copy
            (20, good),     # larger id, better copy -> must win
            (30, "unique singleton document body here today"),
            (40, good + " tail"),   # tie group: identical text twice
            (41, good + " tail"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup_apply_best(docs).collect()}
    assert set(out) == {20, 30, 40}
    assert out[20].n_copies == 2       # quality beat the smaller id 10
    assert out[40].n_copies == 2       # tie -> min doc_id
    assert out[30].n_copies == 1


def test_with_quality_matches_quality_score_and_tokenizes_once(spark):
    """with_quality is the staged spelling of quality_score: identical
    quality/keep values (including a lowercase-length-changing Unicode
    edge — İ lowers to two code points, so the alpha denominator must
    stay the RAW length), and the staged plan tokenizes ONCE — the
    whole point of the staging (a nested expression pays one regex
    pass per reference)."""
    from mapreducekmean_spark.operators.text import (
        quality_score,
        with_quality,
    )
    from mapreducekmean_spark.plans import formatted_plan

    rows = [
        (1, "the quick brown fox jumps over a lazy dog near the bank"),
        (2, "İstanbul İzmir " + " ".join(f"w{i}" for i in range(12))),
        (3, "short"),
        (4, "numbers 123 456 789 mixed with words " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    staged = {
        r.doc_id: (r.quality, r.q_keep)
        for r in with_quality(docs).collect()
    }
    ref = {
        r.doc_id: (r.quality, r.keep)
        for r in quality_score(
            docs.withColumn("n_chars", F.length("text").cast("bigint"))
        ).collect()
    }
    assert staged == ref
    plan = formatted_plan(with_quality(docs).select("doc_id", "quality"))
    # ONE tokenize in the whole physical plan — the staging survived
    # CollapseProject. The formatted string mentions the expression at
    # most twice (tree node + its detail entry); a collapse back to
    # the nested form would inline it ~5x per section.
    assert plan.count("regexp_extract_all") <= 2, plan.count(
        "regexp_extract_all"
    )


def test_quality_deciles_threshold_definition(spark):
    """The decile definition on a constructed corpus: thresholds are
    the smallest levels reaching ceil(d*N/10) cumulative docs, ties
    share a decile (populations approximate, definition exact), and
    every decile's population/means roll up from the level table."""
    from mapreducekmean_spark.operators.text import (
        quality_deciles,
        quality_score,
    )

    # 20 docs over a handful of quality levels: vary token counts so
    # levels form; duplicates of the same text share a level exactly
    texts = []
    for i in range(20):
        n = 12 + (i % 4) * 6  # four distinct token counts -> >=4 levels
        texts.append((i, " ".join(f"w{j}word{j % 3}" for j in range(n))))
    docs = spark.createDataFrame(texts, "doc_id bigint, text string")
    out = {r.decile: r for r in quality_deciles(docs).collect()}
    assert sum(r.n_docs for r in out.values()) == 20
    # reference: recompute from quality_score + the documented rule
    q = sorted(
        r.quality
        for r in quality_score(
            docs.withColumn("n_chars", F.length("text").cast("bigint"))
        ).collect()
    )
    import math

    levels = sorted(set(q))
    cum = {}
    run = 0
    for lv in levels:
        run += sum(1 for x in q if x == lv)
        cum[lv] = run
    thrs = sorted(
        min(lv for lv in levels if cum[lv] >= math.ceil(d * 20 / 10))
        for d in range(1, 11)
    )
    for lv in levels:
        dec = 1 + sum(1 for t in thrs if t < lv)
        n_at = sum(1 for x in q if x == lv)
        assert out[dec].n_docs >= n_at  # the whole level sits in dec
    # decile bands are disjoint and ordered
    byd = sorted(out.values(), key=lambda r: r.decile)
    for a, b in zip(byd, byd[1:]):
        assert a.q_hi < b.q_lo


def test_host_stats_cross_source_dups(spark):
    """host_stats semantics on a constructed corpus: dup_docs counts
    CORPUS-wide content recurrence (a mirror source's copy marks the
    original source's doc as dup too — a per-source-only count would
    miss it), distinct/dup ratios are per-source, and mean_quality is
    the scaled-bigint 6-dp mean."""
    from mapreducekmean_spark.operators.text import host_stats

    body_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(6))
    body_b = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(6))
    docs = spark.createDataFrame(
        [
            (1, "siteA", body_a),
            (2, "siteA", body_b),            # unique within corpus
            (3, "siteB", "  " + body_a + " "),  # cross-source copy of 1
        ],
        "doc_id bigint, source string, text string",
    )
    out = {r.source: r for r in host_stats(docs).collect()}
    assert set(out) == {"siteA", "siteB"}
    a, b = out["siteA"], out["siteB"]
    assert (a.n_docs, a.n_distinct, a.dup_docs) == (2, 2, 1)
    assert a.dup_ratio == 0.5 and a.distinct_ratio == 1.0
    assert (b.n_docs, b.n_distinct, b.dup_docs) == (1, 1, 1)
    assert b.dup_ratio == 1.0
    # scaled-bigint mean: exactly the mean of the two 6-dp scores
    from mapreducekmean_spark.operators.text import quality_score

    q = {
        r.doc_id: r.quality
        for r in quality_score(
            docs.withColumn("n_chars", F.length("text").cast("bigint"))
        ).collect()
    }
    assert a.mean_quality == round(
        (round(q[1] * 1e6) + round(q[2] * 1e6)) / 2e6, 6
    )
    assert a.total_tokens == 36  # 18 tokens per constructed body


def test_gopher_quality_rules_constructed(spark):
    """Each Gopher A.1.1 rule exercised both ways on constructed docs
    (the fixture corpus trips the stopword rule universally — its
    vocabulary lacks 7 of the 8 — so keep=true lives here)."""
    from mapreducekmean_spark.operators.text import gopher_quality

    good = (
        "the quick brown fox jumps over that lazy dog and runs to "
        "the river of light with great speed because it must have "
        "freedom " * 5
    )
    short = "the and of to be"  # < 50 words
    symbols = ("the and " + "### ## # " * 20 + "word " * 50)
    nostop = "alpha beta gamma delta " * 20
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, nostop)],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert out[1].keep is True
    assert out[1].n_stopwords >= 2 and out[1].n_words >= 50
    assert out[2].keep is False and out[2].n_words < 50
    assert out[3].keep is False
    assert out[3].symbol_word_ratio > 0.1
    assert out[4].keep is False and out[4].n_stopwords == 0
    # custom stopword list flips the nostop doc's stopword rule
    custom = gopher_quality(
        docs.filter("doc_id = 4"), stopwords=("alpha", "beta")
    ).collect()[0]
    assert custom.n_stopwords == 2


def test_dedup_apply_best_rejects_out_of_bound_ids(spark):
    """The (quality, -doc_id) order embedding is only valid for
    0 <= doc_id < 1e12 — out-of-range ids must raise at execution,
    not silently mis-rank."""
    import pytest as _pytest

    from mapreducekmean_spark.operators.dedup import dedup_apply_best

    docs = spark.createDataFrame(
        [(-1, "some document body here with words")],
        "doc_id bigint, text string",
    )
    with _pytest.raises(Exception, match="order embedding"):
        dedup_apply_best(docs).collect()


def test_dedup_apply_best_rejects_null_quality(spark):
    """A zero-token document must FAIL LOUDLY, never produce a
    NULL-doc_id row (max() silently skipping an all-NULL group — the
    r11-advice latent divergence from the oracle's NULLS LAST rule).
    Under ANSI mode (Spark 4 default) the quality expression's 0/0
    division itself raises DIVIDE_BY_ZERO; under non-ANSI deployments
    the division yields NULL and the operator's own raise_error guard
    fires instead — either way the argmax is never corrupted."""
    import pytest as _pytest

    from mapreducekmean_spark.operators.dedup import dedup_apply_best

    docs = spark.createDataFrame(
        [(1, "   "), (2, "   ")],  # whitespace-only: zero tokens
        "doc_id bigint, text string",
    )
    with _pytest.raises(Exception, match="NULL quality|DIVIDE_BY_ZERO"):
        dedup_apply_best(docs).collect()


def test_pii_scan_constructed_cases(spark):
    """pii_scan semantics on constructed text: multiple emails count,
    an email's digit-heavy local part does NOT double-count as a phone
    (phones are counted post-email-redaction), phone variants with
    +/parens/dashes/spaces match, and clean text scans zero."""
    from mapreducekmean_spark.operators.text import pii_scan

    docs = spark.createDataFrame(
        [
            (1, "mail a.b@x.org and c_d%e@sub.domain.co today"),
            (2, "user123456789@host.com only"),     # email, no phone
            (3, "call +1 (555) 010-4242 or 020 7946 0958 now"),
            (4, "totally clean text with words only"),
            (5, "MIXED.Case@Upper.COM shouts"),     # lowercased first
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert out[1].n_emails == 2 and out[1].n_phones == 0
    assert out[2].n_emails == 1 and out[2].n_phones == 0
    assert out[3].n_emails == 0 and out[3].n_phones == 2
    assert out[4].n_emails == 0 and out[4].n_phones == 0
    assert out[5].n_emails == 1


def test_pii_scan_class_precedence_and_new_classes(spark):
    """The r14 classes (IPv4 / SSN-shaped / IBAN-shaped) and the
    pinned sequential-redaction order: an SSN's 3-2-4 dash run and an
    IBAN's spaced digit groups are both phone-shaped, so each must be
    claimed by ITS class and contribute zero phones; an IP must not
    leave digit fragments that count as anything else; clean text
    scans zero across all five columns."""
    from mapreducekmean_spark.operators.text import pii_scan

    docs = spark.createDataFrame(
        [
            (1, "server at 10.2.0.71 and 192.168.1.1 responded"),
            (2, "ssn 123-45-6789 on file"),           # NOT a phone
            (3, "pay DE44 5001 0517 5407 3249 31 now"),  # NOT a phone
            (4, "call +1 (555) 010-4242 now"),         # a real phone
            (5, "totally clean text with words only"),
            # version string: only a 4-segment dotted quad is an IP
            (6, "upgraded to release 6.18.5 yesterday"),
            # all five classes in one doc
            (
                7,
                "a@b.co at 8.8.8.8 ssn 987-65-4321 iban "
                "gb29 nwbk 6016 1331 9268 19 tel 020 7946 0958",
            ),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert out[1].n_ips == 2 and out[1].n_phones == 0
    assert out[2].n_ssns == 1 and out[2].n_phones == 0
    assert out[3].n_ibans == 1 and out[3].n_phones == 0
    assert out[4].n_phones == 1 and out[4].n_ssns == 0
    assert all(
        getattr(out[5], c) == 0
        for c in ("n_emails", "n_ips", "n_ssns", "n_ibans", "n_phones")
    )
    assert out[6].n_ips == 0
    assert (
        out[7].n_emails,
        out[7].n_ips,
        out[7].n_ssns,
        out[7].n_ibans,
        out[7].n_phones,
    ) == (1, 1, 1, 1, 1)


def test_split_leakage_audit_semantics(spark):
    """A clean (dup-free) corpus audits to zero rows; planting the same
    content under ids that hash into different splits surfaces exactly
    that leaked group with the right copy counts."""
    from mapreducekmean_spark.operators.dedup import split_leakage_audit
    from mapreducekmean_spark.operators.text import dataset_split

    clean = spark.createDataFrame(
        [(i, f"unique document number {i} body") for i in range(20)],
        "doc_id bigint, text string",
    )
    assert split_leakage_audit(clean).count() == 0

    # find two ids in different splits, give them identical content
    splits = {
        r.doc_id: r.split for r in dataset_split(clean).collect()
    }
    ids = sorted(splits)
    a = ids[0]
    b = next(i for i in ids if splits[i] != splits[a])
    leaked = spark.createDataFrame(
        [(a, "the same leaked text"), (b, "the same   LEAKED text")]
        + [(i, f"unique document number {i} body") for i in ids
           if i not in (a, b)],
        "doc_id bigint, text string",
    )
    rows = split_leakage_audit(leaked).collect()
    assert len(rows) == 1
    r = rows[0]
    assert {r.split_a, r.split_b} == {splits[a], splits[b]}
    assert r.split_a < r.split_b
    assert r.n_groups == 1 and r.n_docs == 2


def test_audio_fp_real_payloads_decode_and_match_closed_form(spark):
    """The in-query WAV synthesis emits VALID payloads on BOTH codec
    branches (PCM-8 even docs, G.711 μ-law odd docs — the fmt code is
    asserted from the raw bytes), every row decodes ok=true through
    the real RIFF parser, and the decoded fingerprint halves equal the
    closed-form arithmetic the DuckDB twin computes — a pure-Python
    recomputation from doc_id alone, no decoding. Cross-checks the
    μ-law magnitude formula against the production expansion table."""
    import struct

    from mapreducekmean_spark import multimodal as mm

    ids = [0, 1, 37, 250, 499, 12345]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")

    payloads = {
        r.asset_id: bytes(r.payload)
        for r in mm.synthetic_wav_assets(docs).collect()
    }
    table = mm._g711_expand_table(7)
    for d in ids:
        fmt_code = struct.unpack_from("<H", payloads[d], 20)[0]
        assert fmt_code == (1 if d % 2 == 0 else 7)
        dec = mm._decode_audio_wav(payloads[d])
        assert dec is not None and len(dec[0]) == mm.FP_WINDOWS

    def energy(d, i):
        v = (d * (i + 1)) % 251
        if d % 2 == 0:
            return abs(v - 128)
        u = 255 - v
        t = ((u % 16) * 8 + 132) << ((u // 16) % 8)
        # the closed form IS the production table's magnitude
        assert t - 132 == abs(int(table[v])), (d, i, v)
        return t - 132

    rows = {r.asset_id: r for r in mm.audio_fp_real(docs).collect()}
    assert set(rows) == set(ids)
    for d in ids:
        assert rows[d].ok
        bits = [
            1 if energy(d, w) > energy(d, w + 1) else 0
            for w in range(mm.FP_WINDOWS - 1)
        ]
        hi = sum(b << w for w, b in enumerate(bits[:32]))
        lo = sum(b << w for w, b in enumerate(bits[32:]))
        assert (rows[d].dh_hi, rows[d].dh_lo) == (hi, lo), d


def test_video_dhash_real_payloads_decode_and_match_closed_form(spark):
    """The in-query Y4M synthesis emits VALID C444 streams (6 frames,
    all decoding through the real parser with R=G=B=Y exactly — the
    constant-128 chroma collapses BT.601), video_dhash samples frames
    {0, 5}, and the per-frame halves equal the closed-form arithmetic
    the DuckDB twin computes from (doc_id, frame_idx)."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    ids = [0, 1, 37, 499, 12345]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")

    payload = bytes(
        mm.synthetic_y4m_assets(docs.filter("doc_id = 37")).collect()[0]
        .payload
    )
    frames = mm._decode_y4m_frames(payload)
    assert frames is not None and len(frames) == mm.Y4M_FRAMES
    for f, rgb in enumerate(frames):
        assert rgb.shape == (8, 9, 3)
        y = np.array(
            [[(37 * (r * 9 + c + 1) + 17 * f) % 251 for c in range(9)]
             for r in range(8)],
            dtype=np.uint8,
        )
        assert (rgb == np.stack([y, y, y], axis=-1)).all(), f

    rows = {
        (r.asset_id, r.frame_idx): r
        for r in mm.video_dhash_real(docs).collect()
    }
    assert set(rows) == {(d, f) for d in ids for f in (0, 5)}
    for d in ids:
        for f in (0, 5):
            row = rows[(d, f)]
            assert row.ok

            def v(i):
                return (d * (i + 1) + 17 * f) % 251

            hi = sum(
                1 << ((r % 4) * 8 + c)
                for r in range(4)
                for c in range(8)
                if v(r * 9 + c) > v(r * 9 + c + 1)
            )
            lo = sum(
                1 << ((r % 4) * 8 + c)
                for r in range(4, 8)
                for c in range(8)
                if v(r * 9 + c) > v(r * 9 + c + 1)
            )
            assert (row.dh_hi, row.dh_lo) == (hi, lo), (d, f)


def test_corpus_diff_semantics(spark):
    """Content-level diff semantics: added/removed/retained count
    LEVELS (two same-content docs collapse to one level), whitespace
    re-normalization reads as retained, and token mass moves only
    with added/removed levels."""
    from mapreducekmean_spark.operators.text import corpus_diff

    old = spark.createDataFrame(
        [
            ("a", "alpha beta"),          # retained (normalized match)
            ("a", "gone now"),            # removed
            ("b", "dup page"),            # retained; dup collapses
            ("b", "dup page"),
        ],
        "source string, text string",
    )
    new = spark.createDataFrame(
        [
            ("a", "  alpha   beta "),     # same normalized content
            ("a", "fresh content here"),  # added (3 tokens)
            ("b", "dup page"),
            ("b", "brand new"),           # added (2 tokens)
        ],
        "source string, text string",
    )
    got = {r.source: r for r in corpus_diff(old, new).collect()}
    assert (got["a"].n_added, got["a"].n_removed, got["a"].n_retained) == (
        1, 1, 1,
    )
    assert got["a"].toks_added == 3 and got["a"].toks_removed == 2
    assert (got["b"].n_added, got["b"].n_removed, got["b"].n_retained) == (
        1, 0, 1,
    )
    assert got["b"].toks_added == 2 and got["b"].toks_removed == 0


def test_seq_len_histogram_bucket_edges(spark):
    """Bit-length buckets are exact at the power-of-two boundaries
    (log2-float would misplace them) and zero-token docs land in
    bucket 0."""
    from mapreducekmean_spark.operators.text import seq_len_histogram

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [
        ("s", "!!!"),          # 0 tokens -> bucket 0, lo 0
        ("s", words(1)),       # bucket 1, lo 1
        ("s", words(2)),       # bucket 2, lo 2
        ("s", words(3)),       # bucket 2
        ("s", words(4)),       # bucket 3, lo 4
        ("s", words(7)),       # bucket 3
        ("s", words(8)),       # bucket 4, lo 8
    ]
    docs = spark.createDataFrame(rows, "source string, text string")
    got = {
        r.bucket: (r.lo_tokens, r.n_docs, r.total_tokens)
        for r in seq_len_histogram(docs).collect()
    }
    assert got == {
        0: (0, 1, 0),
        1: (1, 1, 1),
        2: (2, 2, 5),
        3: (4, 2, 11),
        4: (8, 1, 8),
    }


def test_embedding_stats_exact_arithmetic(spark):
    """Per-dim stats: scaled-bigint mean (order-independent), exact
    min/max, float32 widened losslessly."""
    from pyspark.sql import Row

    from mapreducekmean_spark.operators.text import embedding_stats

    rows = [
        Row(vec_id=1, embedding=[1.0, -2.0], label=0),
        Row(vec_id=2, embedding=[2.0, 4.5], label=0),
        Row(vec_id=3, embedding=[3.0, 0.25], label=1),
    ]
    df = spark.createDataFrame(rows).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"),
        "label",
    )
    got = {r.dim: r for r in embedding_stats(df).collect()}
    assert got[0].n == 3 and got[1].n == 3
    assert (got[0].x_min, got[0].x_max) == (1.0, 3.0)
    assert (got[1].x_min, got[1].x_max) == (-2.0, 4.5)
    assert got[0].mean_x == 2.0
    assert got[1].mean_x == round((-2.0 + 4.5 + 0.25) / 3, 6)


def test_blocklist_filter_semantics(spark):
    """blocklist_filter edge semantics: occurrences count (not
    distinct hits), matching is post-tokenization exact (a blocked
    word inside another word does not fire — the documented C4
    tradeoff), zero-token docs keep with density 0.0, and keep is
    exactly n_blocked == 0."""
    from mapreducekmean_spark.operators.text import blocklist_filter

    docs = spark.createDataFrame(
        [
            (1, "slow query slow join slow scan"),   # 3 hits of one word
            (2, "slowly duplicated stalemate"),      # substrings: clean
            (3, "a dup and a stale row"),            # 2 distinct hits
            (4, "perfectly clean text"),
            (5, "??? !!!"),                          # zero tokens
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in blocklist_filter(docs).collect()}
    assert out[1].n_blocked == 3 and not out[1].keep
    assert out[1].blocked_density == round(3 / 6, 6)
    assert out[2].n_blocked == 0 and out[2].keep
    assert out[3].n_blocked == 2 and not out[3].keep
    assert out[4].keep
    assert out[5].n_tokens == 0 and out[5].blocked_density == 0.0
    assert out[5].keep


def test_video_scene_cuts_semantics(spark):
    """Scene-cut edges on constructed frame hashes: identical
    consecutive hashes are hamming-0 non-cuts, a 64-bit flip is a cut,
    the lag window must NOT cross assets (each clip's first frame
    produces no transition row), undecodable ok=false rows are
    excluded, and a single-frame clip yields zero transitions."""
    from mapreducekmean_spark.multimodal import video_scene_cuts

    rows = [
        # clip 1: static frame, then a hard cut, then static again
        (1, 0, True, 0xFF, 0x00),
        (1, 1, True, 0xFF, 0x00),            # identical -> hamming 0
        (1, 2, True, 0xFF00, 0xFFFF),        # cut: many bits flip
        (1, 3, True, 0xFF00, 0xFFFF),        # identical again
        # clip 2: one frame only
        (2, 0, True, 0x01, 0x01),
        # clip 3: decode failure row must be ignored
        (3, None, False, None, None),
        (3, 0, True, 0x0F, 0x00),
        (3, 1, True, 0x1F, 0x00),            # 1 bit flips: no cut
    ]
    frames = spark.createDataFrame(
        rows,
        "asset_id bigint, frame_idx bigint, ok boolean,"
        " dh_hi bigint, dh_lo bigint",
    )
    got = {
        (r.asset_id, r.frame_idx): r
        for r in video_scene_cuts(frames).collect()
    }
    assert set(got) == {(1, 1), (1, 2), (1, 3), (3, 1)}
    assert got[(1, 1)].hamming == 0 and not got[(1, 1)].is_cut
    assert got[(1, 2)].hamming == 32 and got[(1, 2)].is_cut
    assert got[(1, 3)].hamming == 0 and not got[(1, 3)].is_cut
    assert got[(3, 1)].hamming == 1 and not got[(3, 1)].is_cut
    assert got[(1, 2)].prev_idx == 1


def test_audio_activity_segments_constructed(spark):
    """Activity segmentation on a hand-built PCM-8 WAV: 30 near-zero
    samples then 35 loud ones yield exactly two maximal segments with
    the right bounds; an all-silent clip yields one segment; a
    malformed payload yields one ok=false row."""
    import struct

    from mapreducekmean_spark.multimodal import (
        FP_WINDOWS,
        audio_activity_segments,
    )

    def wav(data: bytes) -> bytes:
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )

    quiet, loud = 130, 250          # |130-128|/128 < 0.5 <= |250-128|/128
    two_seg = wav(bytes([quiet] * 30 + [loud] * (FP_WINDOWS - 30)))
    all_quiet = wav(bytes([quiet] * FP_WINDOWS))
    assets = spark.createDataFrame(
        [
            (1, "audio", two_seg),
            (2, "audio", all_quiet),
            (3, "audio", b"not a wav"),
        ],
        "asset_id bigint, modality string, payload binary",
    )
    rows = audio_activity_segments(assets).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r.asset_id, []).append(r)
    segs1 = sorted(
        (r.seg_start, r.seg_end, r.n_windows, r.active)
        for r in by_asset[1]
    )
    assert segs1 == [
        (0, 29, 30, False),
        (30, FP_WINDOWS - 1, FP_WINDOWS - 30, True),
    ]
    assert [
        (r.seg_start, r.seg_end, r.active) for r in by_asset[2]
    ] == [(0, FP_WINDOWS - 1, False)]
    assert len(by_asset[3]) == 1 and not by_asset[3][0].ok


def test_bpe_fertility_totals_consistent_with_token_stats(spark):
    """The fertility report's totals must reconcile with the per-doc
    bpe_token_stats over the same corpus (same trained merges, same
    definition of words/tokens), and the ratios must be the 6-dp
    single divisions of those integer totals."""
    from mapreducekmean_spark.operators.bpe import (
        bpe_fertility_by_source,
        bpe_token_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "s1", "lower lower newer newest low low low"),
            (2, "s1", "wider wide widest new newer"),
            (3, "s2", "low lower lowest"),
            (4, "s2", "???"),                     # token-free
        ],
        "doc_id bigint, source string, text string",
    )
    fert = {r.source: r for r in bpe_fertility_by_source(docs).collect()}
    per_doc = {r.doc_id: r for r in bpe_token_stats(docs).collect()}
    assert fert["s1"].n_words == (
        per_doc[1].n_words + per_doc[2].n_words
    )
    assert fert["s1"].n_tokens == (
        per_doc[1].n_tokens + per_doc[2].n_tokens
    )
    assert fert["s2"].n_words == per_doc[3].n_words  # doc 4 contributes 0
    for r in fert.values():
        assert r.fertility == round(r.n_tokens / r.n_words, 6)
        assert r.chars_per_token == round(r.n_chars / r.n_tokens, 6)
        assert r.fertility >= 1.0  # a word is at least one token
