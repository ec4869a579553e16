"""Streaming surface tests: stateless scoring, watermarked windows, and
stateful sessionization — each driven to completion through a memory sink
and cross-checked against its batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducekmean_spark.operators import events as ev
from mapreducekmean_spark.operators import kmeans as km
from mapreducekmean_spark.streaming import (
    read_events_stream,
    read_points_stream,
    stream_assign,
    stream_hourly_counts,
    stream_sessionize,
)
from mapreducekmean_spark.streaming.jobs import run_to_memory


def test_stream_assign_matches_batch(spark, sf_small):
    pts = km.embeddings(spark, sf_small)
    cents = km.collect_centroids(km.deterministic_init(pts, 10))
    batch = {
        (r["vec_id"], r["cluster_id"])
        for r in km.assign(pts, cents).select("vec_id", "cluster_id").collect()
    }
    stream = stream_assign(read_points_stream(spark, sf_small), cents)
    run_to_memory(stream, "assign_out")
    got = {
        (r["vec_id"], r["cluster_id"])
        for r in spark.sql("SELECT * FROM assign_out").collect()
    }
    assert got == batch


def test_stream_hourly_matches_batch(spark, sf_small):
    agg = stream_hourly_counts(read_events_stream(spark, sf_small))
    run_to_memory(agg, "hourly_out", output_mode="complete")
    got = {
        (r["hour_start_s"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM hourly_out").collect()
    }
    batch = {
        (r["hour_start_s"], r["event_type"]): r["n"]
        for r in ev.hourly_rollup(ev.events(spark, sf_small)).collect()
    }
    assert got == batch


def test_stream_sessionize_closed_sessions(spark, sf_small):
    """One micro-batch closes every session except each user's last open
    one — the streamed output must equal batch sessions minus the final
    session per user."""
    out = stream_sessionize(read_events_stream(spark, sf_small))
    run_to_memory(out, "sessions_out")
    streamed = {
        (r["user_id"], r["session_start_us"], r["n_events"], r["duration_us"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    batch_sessions = ev.sessionize(ev.events(spark, sf_small))
    w_last = F.max("session_id").over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
            "user_id"
        )
    )
    closed = (
        batch_sessions.withColumn("last_sess", w_last)
        .filter(F.col("session_id") < F.col("last_sess"))
        .collect()
    )
    # batch sessionize lacks start_us; compare (user, n_events, duration)
    batch_set = {
        (r["user_id"], r["n_events"], r["duration_us"]) for r in closed
    }
    stream_set = {(u, n, d) for (u, _s, n, d) in streamed}
    assert stream_set == batch_set
    assert len(streamed) == len(closed)


def test_declared_closed_sessions_matches_stream_output(spark, sf_small):
    """The DECLARED batch query stream_sessions_closed (driver-checked
    against a DuckDB oracle) must equal the actual
    applyInPandasWithState stream output row-for-row on the shared
    fixture — this is what makes its green driver row evidence about
    the streaming semantics."""
    from mapreducekmean_spark.contract import registry

    out = stream_sessionize(read_events_stream(spark, sf_small))
    run_to_memory(out, "sessions_twin")
    streamed = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, session_start_us, n_events, duration_us "
            "FROM sessions_twin"
        ).collect()
    )
    declared = sorted(
        tuple(r)
        for r in registry()["stream_sessions_closed"]
        .fn(spark, sf_small)
        .collect()
    )
    assert streamed == declared and len(streamed) > 0


def test_stream_sessionize_state_across_batches(spark, sf_small, tmp_path):
    """Two micro-batches: a session spanning the batch boundary must be
    stitched together by the state store, not split."""
    ev_df = (
        read_events_stream.__globals__["load_table"](spark, sf_small, "events")
        .select("user_id", "ts", "event_id")
        .orderBy("ts")
    )
    rows = ev_df.limit(200).collect()
    half = len(rows) // 2
    src = tmp_path / "src"
    src.mkdir()
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_schema = pa.schema(
        [
            ("user_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("event_id", pa.int64()),
        ]
    )
    for i, chunk in enumerate((rows[:half], rows[half:])):
        pdf = pd.DataFrame(
            {
                "user_id": [r["user_id"] for r in chunk],
                "ts": pd.Series(
                    [r["ts"] for r in chunk], dtype="datetime64[us]"
                ),
                "event_id": [r["event_id"] for r in chunk],
            }
        )
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=arrow_schema),
            src / f"part-{i}.parquet",
        )
    schema = "user_id bigint, ts timestamp, event_id bigint"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = stream_sessionize(stream)
    run_to_memory(out, "sessions_2b")
    streamed = spark.sql("SELECT * FROM sessions_2b").collect()
    # same closed-session multiset as a single batch over the same rows
    batch_df = spark.createDataFrame(
        [(r["user_id"], r["ts"], r["event_id"]) for r in rows], schema
    ).withColumn("event_type", F.lit("x"))
    batch_sessions = ev.sessionize(batch_df)
    from pyspark.sql import Window

    closed = (
        batch_sessions.withColumn(
            "last_sess", F.max("session_id").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("session_id") < F.col("last_sess"))
        .collect()
    )
    assert {(r["user_id"], r["n_events"], r["duration_us"]) for r in streamed} == {
        (r["user_id"], r["n_events"], r["duration_us"]) for r in closed
    }


@pytest.mark.parametrize("mode", ["fake"])
def test_multimodal_features(spark, sf_small, mode):
    from mapreducekmean_spark import multimodal as mm

    assets = mm.assets_from_documents(spark, sf_small)
    assert [f.name for f in assets.schema.fields] == [
        "asset_id",
        "modality",
        "payload",
        "meta",
    ]
    feats = mm.extract_features(assets, fake_codec=True)
    rows = feats.collect()
    assert len(rows) == 500
    r0 = next(r for r in rows if r["asset_id"] == 0)
    assert len(r0["features"]) == mm.FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in r0["features"])
    # checksum matches the payload bytes deterministically
    import hashlib

    doc0 = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter(F.col("doc_id") == 0)
        .collect()[0]["text"]
    )
    assert r0["checksum"] == hashlib.md5(doc0.encode()).hexdigest()
    assert r0["n_bytes"] == len(doc0.encode())


def test_multimodal_decode_stub_raises(spark, sf_small):
    from mapreducekmean_spark import multimodal as mm

    with pytest.raises(NotImplementedError):
        mm.decode_payload(b"xx", "image", fake_codec=False)


def _ppm_bytes(w: int, h: int, rgb_fn) -> bytes:
    """Binary-PPM (P6) image with pixel (x, y) = rgb_fn(x, y)."""
    body = bytes(
        c for y in range(h) for x in range(w) for c in rgb_fn(x, y)
    )
    return f"P6\n# test\n{w} {h}\n255\n".encode() + body


def test_multimodal_real_decode_ppm(spark):
    """The REAL (non-fake) decode branch over genuine image bytes,
    end-to-end through the Arrow mapInPandas pipeline. Runs on either
    codec path: PIL when installed, the built-in P6 parser otherwise —
    both decode the same PPM to the same pixels, so the expected
    features are identical and deterministic."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    # 4x2 image: left half pure red, right half pure blue
    img = _ppm_bytes(
        4, 2, lambda x, y: (255, 0, 0) if x < 2 else (0, 0, 255)
    )
    assets = spark.createDataFrame(
        [
            Row(
                asset_id=1,
                modality="image",
                payload=bytearray(img),
                meta=Row(width=4, height=2, sample_rate=None, n_frames=None),
            )
        ],
        mm.ASSET_SCHEMA,
    )
    row = mm.extract_features(assets, fake_codec=False).collect()[0]
    assert row["features"] == [
        round(2 / 4096, 6),   # h/4096
        round(4 / 4096, 6),   # w/4096
        0.5,                  # mean R: half the pixels are red
        0.0,                  # mean G
        0.5,                  # mean B
        0.0,                  # min
        1.0,                  # max
        # std over all 24 channel values (8 ones, 16 zeros): sqrt(2)/3
        round((2 / 9) ** 0.5, 6),
    ]
    # direct (non-Spark) call hits the same branch
    assert mm.decode_payload(img, "image", fake_codec=False) == row["features"]


def _bmp_bytes(w: int, h: int, rgb_fn, bpp: int = 24, top_down: bool = False) -> bytes:
    """Uncompressed BI_RGB BMP with pixel (x, y) = rgb_fn(x, y); rows
    BGR(A), 4-byte padded, bottom-up unless top_down."""
    import struct

    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3
    rows = []
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = b"".join(
            bytes(
                (rgb_fn(x, y)[2], rgb_fn(x, y)[1], rgb_fn(x, y)[0])
                + ((255,) if bpp == 32 else ())
            )
            for x in range(w)
        )
        rows.append(row + b"\x00" * (stride - len(row)))
    body = b"".join(rows)
    data_offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", data_offset + len(body), 0, 0, data_offset)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (h if not top_down else -h), 1, bpp,
        0, len(body), 2835, 2835, 0, 0,
    )
    return header + dib + body


def test_multimodal_real_decode_bmp(spark):
    """The third real codec branch: 24-bit bottom-up BMP with row padding
    must decode to the same pixels (and so the same features) as the
    equivalent PPM — through the full Arrow mapInPandas pipeline."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    # width 3 -> 9 pixel bytes/row + 3 pad bytes: exercises the stride
    rgb_fn = lambda x, y: (255, 0, 0) if x < 2 else (0, 0, 255)  # noqa: E731
    bmp = _bmp_bytes(3, 2, rgb_fn)
    ppm = _ppm_bytes(3, 2, rgb_fn)
    assets = spark.createDataFrame(
        [
            Row(
                asset_id=1,
                modality="image",
                payload=bytearray(bmp),
                meta=Row(width=3, height=2, sample_rate=None, n_frames=None),
            )
        ],
        mm.ASSET_SCHEMA,
    )
    row = mm.extract_features(assets, fake_codec=False).collect()[0]
    assert row["features"] == mm.decode_payload(ppm, "image", fake_codec=False)
    # 32-bit top-down variant decodes to identical pixels (alpha dropped)
    bmp32 = _bmp_bytes(3, 2, rgb_fn, bpp=32, top_down=True)
    assert (
        mm.decode_payload(bmp32, "image", fake_codec=False) == row["features"]
    )


def _png_bytes(
    w: int, h: int, rgb_fn, color_type: int = 2, filters=None,
    palette=None, alpha: int = 200,
) -> bytes:
    """8-bit non-interlaced PNG with pixel (x, y) = rgb_fn(x, y) and the
    forward scanline filter of ``filters[y]`` applied per row (default
    all 0) — exercises every unfilter branch of the decoder. For color
    type 3, rgb_fn returns an index into ``palette``."""
    import struct
    import zlib

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    filters = filters or [0] * h
    raw_rows = []
    for y in range(h):
        row = []
        for x in range(w):
            v = rgb_fn(x, y)
            if color_type == 2:
                row += list(v)
            elif color_type == 6:
                row += list(v) + [alpha]
            elif color_type == 0:
                row += [v[0]]
            elif color_type == 4:
                row += [v[0], alpha]
            else:  # palette index
                row += [v]
        raw_rows.append(row)
    out = bytearray()
    prev = [0] * (w * ch)
    for y, cur in enumerate(raw_rows):
        f = filters[y]
        out.append(f)
        for i, x in enumerate(cur):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((x - pred) & 0xFF)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    comp = zlib.compress(bytes(out))
    mid = len(comp) // 2  # split across two IDATs: decoder must concat
    png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", b"".join(bytes(p) for p in palette))
    png += chunk(b"IDAT", comp[:mid]) + chunk(b"IDAT", comp[mid:])
    return png + chunk(b"IEND", b"")


def test_multimodal_real_decode_png(spark):
    """The first COMPRESSED real codec branch (stdlib zlib): an RGB PNG
    using every scanline filter type must decode to the same pixels (and
    features) as the equivalent PPM, end-to-end through the Arrow
    mapInPandas pipeline."""
    import numpy as np
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    rgb_fn = lambda x, y: (  # noqa: E731 — gradient exercises all filters
        (x * 37) % 256, (y * 91) % 256, (x * 13 + y * 7) % 256
    )
    png = _png_bytes(6, 5, rgb_fn, filters=[0, 1, 2, 3, 4])
    ppm = _ppm_bytes(6, 5, rgb_fn)
    assets = spark.createDataFrame(
        [
            Row(
                asset_id=1,
                modality="image",
                payload=bytearray(png),
                meta=Row(width=6, height=5, sample_rate=None, n_frames=None),
            )
        ],
        mm.ASSET_SCHEMA,
    )
    row = mm.extract_features(assets, fake_codec=False).collect()[0]
    assert row["features"] == mm.decode_payload(ppm, "image", fake_codec=False)
    # every color type decodes; RGBA drops alpha, gray replicates, palette
    # resolves through PLTE — pixel-exact against the direct construction
    expect_rgb = mm._decode_image_rgb(ppm)
    rgba = _png_bytes(6, 5, rgb_fn, color_type=6, filters=[4, 3, 2, 1, 0])
    assert (mm._decode_image_rgb(rgba) == expect_rgb).all()
    gray = _png_bytes(6, 5, rgb_fn, color_type=0, filters=[1, 4, 1, 4, 1])
    assert (
        mm._decode_image_rgb(gray)
        == np.repeat(expect_rgb[:, :, :1], 3, axis=2)
    ).all()
    pal = [(255, 0, 0), (0, 0, 255), (7, 11, 13)]
    pidx = lambda x, y: (x + y) % 3  # noqa: E731
    paletted = _png_bytes(4, 3, pidx, color_type=3, palette=pal, filters=[0, 1, 2])
    got = mm._decode_image_rgb(paletted)
    for y in range(3):
        for x in range(4):
            assert tuple(got[y, x]) == pal[(x + y) % 3]


def test_multimodal_real_resize_roundtrip(spark):
    """resize_images must decode, resample, and re-encode real bytes:
    output PPM decodes to the clamped dimensions with pixel content
    preserved (uniform-color regions stay uniform under nearest
    neighbor); undecodable payloads yield ok=false rows."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    big = _ppm_bytes(8, 4, lambda x, y: (255, 0, 0) if x < 4 else (0, 0, 255))
    assets = spark.createDataFrame(
        [
            Row(asset_id=1, modality="image", payload=bytearray(big),
                meta=Row(width=8, height=4, sample_rate=None, n_frames=None)),
            Row(asset_id=2, modality="image", payload=bytearray(b"JUNK"),
                meta=Row(width=1, height=1, sample_rate=None, n_frames=None)),
            Row(asset_id=3, modality="audio", payload=bytearray(b"x"),
                meta=Row(width=None, height=None, sample_rate=1, n_frames=None)),
        ],
        mm.ASSET_SCHEMA,
    )
    rows = {r["asset_id"]: r for r in mm.resize_images(assets, max_side=4).collect()}
    assert set(rows) == {1, 2}  # audio rows filtered out
    r1 = rows[1]
    assert r1["ok"] and (r1["in_width"], r1["in_height"]) == (8, 4)
    assert (r1["out_width"], r1["out_height"]) == (4, 2)
    rgb = mm._decode_image_rgb(bytes(r1["out_payload"]))
    assert rgb.shape == (2, 4, 3)
    # left half red, right half blue survives the downsample
    assert (rgb[:, :2] == [255, 0, 0]).all() and (rgb[:, 2:] == [0, 0, 255]).all()
    assert rows[2]["ok"] is False and rows[2]["out_payload"] is None


def test_multimodal_resize_fake_branch_reports_planned_dims(spark):
    """fake_codec passthrough rows must report the PLANNED dimensions
    from metadata (resize_plan's clamp math), not NULLs, so they are
    distinguishable downstream; rows without metadata stay NULL
    (ADVICE r4)."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    assets = spark.createDataFrame(
        [
            Row(asset_id=1, modality="image", payload=bytearray(b"JPEGISH"),
                meta=Row(width=640, height=480, sample_rate=None, n_frames=None)),
            Row(asset_id=2, modality="image", payload=bytearray(b"JUNK2"),
                meta=Row(width=None, height=None, sample_rate=None, n_frames=None)),
        ],
        mm.ASSET_SCHEMA,
    )
    rows = {
        r["asset_id"]: r
        for r in mm.resize_images(assets, max_side=256, fake_codec=True).collect()
    }
    r1 = rows[1]
    assert r1["ok"] and bytes(r1["out_payload"]) == b"JPEGISH"
    assert (r1["in_width"], r1["in_height"]) == (640, 480)
    assert (r1["out_width"], r1["out_height"]) == (256, 192)
    r2 = rows[2]
    assert r2["ok"] and r2["out_width"] is None and r2["out_height"] is None


def test_multimodal_pil_jpeg_branch(spark):
    """When PIL is installed, the JPEG branch decodes real compressed
    bytes through the same per-row gate (skipped in PIL-less
    containers — the PNG/PPM/BMP branches cover the plumbing there)."""
    import io

    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    if mm._PILImage is None:
        import pytest

        pytest.skip("PIL not installed in this environment")
    buf = io.BytesIO()
    arr = np.full((8, 8, 3), (200, 30, 60), dtype=np.uint8)
    mm._PILImage.fromarray(arr).save(buf, format="JPEG", quality=95)
    feats = mm.decode_payload(buf.getvalue(), "image", fake_codec=False)
    assert feats[0] == round(8 / 4096, 6) and feats[1] == round(8 / 4096, 6)
    # JPEG is lossy: means near the solid color, not exact
    assert abs(feats[2] - 200 / 255) < 0.05 and abs(feats[4] - 60 / 255) < 0.05


def _y4m_bytes(w: int, h: int, colors) -> bytes:
    """C444 Y4M stream with one solid-gray frame per entry of ``colors``
    (each a Y luma byte; U=V=128 keeps RGB == (Y, Y, Y) exactly)."""
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode()
    frames = b"".join(
        b"FRAME\n"
        + bytes([y]) * (w * h)          # Y plane
        + b"\x80" * (w * h) * 2          # U, V planes at 128
        for y in colors
    )
    return head + frames


def test_multimodal_real_frame_sample_y4m(spark):
    """The real video branch: a 5-frame Y4M sampled every 2 frames must
    yield frames 0, 2, 4 as decodable PPM payloads with the correct
    solid color; undecodable video payloads yield ok=false rows."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    vid = _y4m_bytes(4, 2, [10, 60, 110, 160, 210])
    assets = spark.createDataFrame(
        [
            Row(asset_id=7, modality="video", payload=bytearray(vid),
                meta=Row(width=4, height=2, sample_rate=None, n_frames=5)),
            Row(asset_id=8, modality="video", payload=bytearray(b"AVI?"),
                meta=Row(width=1, height=1, sample_rate=None, n_frames=3)),
        ],
        mm.ASSET_SCHEMA,
    )
    rows = mm.frame_sample(assets, every_n=2).collect()
    good = sorted(
        (r for r in rows if r["asset_id"] == 7), key=lambda r: r["frame_idx"]
    )
    assert [r["frame_idx"] for r in good] == [0, 2, 4]
    assert all(r["ok"] and (r["width"], r["height"]) == (4, 2) for r in good)
    for r, y in zip(good, [10, 110, 210]):
        rgb = mm._decode_image_rgb(bytes(r["frame_payload"]))
        assert rgb.shape == (2, 4, 3) and (rgb == y).all()
    bad = [r for r in rows if r["asset_id"] == 8]
    assert len(bad) == 1 and bad[0]["ok"] is False


def test_y4m_malformed_payloads_hit_gate():
    from mapreducekmean_spark import multimodal as mm

    malformed = [
        b"YUV4MPEG2",                               # header alone
        b"YUV4MPEG2 W4 H2 C999\nFRAME\n" + b"\x00" * 24,  # unknown layout
        b"YUV4MPEG2 W4 H2 C444\nNOPE\n",            # bad frame marker
        b"YUV4MPEG2 W4 H2 C444\nFRAME\n\x00\x00",   # truncated planes
        b"YUV4MPEG2 W3 H3 C420\nFRAME\n" + b"\x00" * 32,  # odd dims for 420
        b"YUV4MPEG2 H2 C444\nFRAME\n",              # missing width
    ]
    for payload in malformed:
        assert mm._decode_y4m_frames(payload) is None


def test_multimodal_plans(spark, sf_small):
    from mapreducekmean_spark import multimodal as mm

    assets = mm.assets_from_documents(spark, sf_small)
    rs = mm.resize_plan(assets, max_side=256).collect()
    assert rs and all(
        max(r["out_width"], r["out_height"]) <= 256 for r in rs
    )
    fs = mm.frame_sample_plan(assets, every_n=5).collect()
    assert fs and all(r["frame_idx"] % 5 == 0 for r in fs)


def test_streaming_kmeans_one_batch_equals_lloyd_step(spark, sf_small):
    """Exactness anchor: all data in ONE micro-batch from init C0 must
    reproduce the oracle-checked batch centroid_update exactly — the
    streaming operator is the Lloyd step, fed incrementally."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.streaming.jobs import (
        StreamingKMeans,
        read_points_stream,
    )

    c0 = km.init_centroids(spark, sf_small, 10)
    model = StreamingKMeans(c0)
    model.run(read_points_stream(spark, sf_small))
    assert model.n_batches == 1

    pts = km.embeddings(spark, sf_small)
    want = {
        int(r["cluster_id"]): (list(r["centroid"]), r["n"])
        for r in km.centroid_update_wide(km.assign(pts, c0), 64).collect()
    }
    for j, (c, w) in enumerate(zip(model.centroids, model.weights)):
        if j in want:
            wc, wn = want[j]
            assert w == wn
            assert all(abs(a - b) < 1e-9 for a, b in zip(c, wc))
        else:  # empty cluster keeps its initial centroid, weight 0
            assert w == 0.0 and c == list(map(float, c0[j]))


def test_streaming_kmeans_multi_batch_deterministic(spark, sf_small, tmp_path):
    """Multi-batch run (one file per trigger): weights sum to n, two
    identical runs produce identical models, and decay<1 discounts old
    batches (weights strictly below the cumulative run's)."""
    import os

    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.streaming.jobs import StreamingKMeans

    pts = km.embeddings(spark, sf_small)
    n = pts.count()
    src = tmp_path / "pts_stream"
    # 4 deterministic slices staged as separate files = 4 micro-batches
    pts.withColumn("part", F.col("vec_id") % 4).write.partitionBy(
        "part"
    ).mode("overwrite").parquet(str(src))
    schema = "vec_id bigint, emb array<double>, label bigint"

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(src) + "/part=*")
        )

    c0 = km.init_centroids(spark, sf_small, 10)
    m1, m2 = StreamingKMeans(c0), StreamingKMeans(c0)
    m1.run(stream())
    m2.run(stream())
    assert m1.n_batches >= 2
    assert sum(m1.weights) == n
    assert m1.centroids == m2.centroids and m1.weights == m2.weights

    m3 = StreamingKMeans(c0, decay=0.5)
    m3.run(stream())
    assert sum(m3.weights) < sum(m1.weights)
    assert all(len(c) == 64 for c in m3.centroids)


def test_stream_dedup_drops_retransmissions(spark, sf_small, tmp_path):
    """Every event staged twice (two file copies) must appear exactly once
    after dropDuplicatesWithinWatermark on event_id."""
    import os

    from mapreducekmean_spark.sources import load_table
    from mapreducekmean_spark.streaming.jobs import stream_dedup_events

    src = os.path.abspath(f"{sf_small}/events.parquet")
    d = tmp_path / "dup_stream"
    d.mkdir()
    os.symlink(src, d / "a.parquet")
    os.symlink(src, d / "b.parquet")

    from mapreducekmean_spark.streaming.jobs import normalize_event_ts

    raw_schema = spark.read.parquet(src).schema
    raw = normalize_event_ts(
        spark.readStream.schema(raw_schema).parquet(str(d))
    )

    deduped = stream_dedup_events(raw)
    run_to_memory(deduped, "dedup_out")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    want = load_table(spark, sf_small, "events").count()
    assert got["n"] == got["d"] == want


def test_stream_stream_join_matches_batch(spark, sf_small):
    """Stream-stream interval join result must equal the identical batch
    self-join (attribution of purchases to preceding views)."""
    from mapreducekmean_spark.sources import load_table
    from mapreducekmean_spark.streaming.jobs import stream_view_purchase_join

    joined = stream_view_purchase_join(read_events_stream(spark, sf_small))
    run_to_memory(joined, "vp_out")
    got = {
        (r.v_user, r.view_id, r.buy_id)
        for r in spark.sql("SELECT * FROM vp_out").collect()
    }

    # the batch side is the DECLARED twin (`stream_attribution`), so the
    # chain closes: stream == this query == its DuckDB oracle
    from mapreducekmean_spark.operators.events import (
        view_purchase_attribution,
    )

    ev_batch = load_table(spark, sf_small, "events")
    want = {
        (r.v_user, r.view_id, r.buy_id)
        for r in view_purchase_attribution(ev_batch).collect()
    }
    assert got == want and len(want) > 0


def test_stream_parquet_sink_exactly_once(spark, sf_small, tmp_path):
    """Checkpointed parquet sink: a re-run with the same checkpoint and
    no new input commits no new rows (exactly-once restart semantics)."""
    import os

    from mapreducekmean_spark.sources import load_table
    from mapreducekmean_spark.streaming.jobs import (
        run_to_parquet,
        stream_dedup_events,
    )

    src = os.path.abspath(f"{sf_small}/events.parquet")
    d = tmp_path / "in"
    d.mkdir()
    os.symlink(src, d / "a.parquet")

    raw_schema = spark.read.parquet(src).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    from mapreducekmean_spark.streaming.jobs import normalize_event_ts

    def run_once():
        raw = normalize_event_ts(
            spark.readStream.schema(raw_schema).parquet(str(d))
        )
        run_to_parquet(stream_dedup_events(raw), out, ckpt)

    run_once()
    want = load_table(spark, sf_small, "events").count()
    assert spark.read.parquet(out).count() == want
    run_once()  # restart, same checkpoint, no new files
    assert spark.read.parquet(out).count() == want


def _wav_bytes(samples16, rate=16000, channels=1) -> bytes:
    """Minimal RIFF/WAVE PCM-16 payload from a list of int16 samples."""
    import struct

    body = struct.pack(f"<{len(samples16)}h", *samples16)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
    data = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body)) + body)
    return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data


def test_multimodal_real_decode_wav(spark):
    """The REAL audio branch over genuine RIFF/WAVE PCM bytes, end-to-end
    through the Arrow mapInPandas pipeline: a square wave with known
    mean/extremes/RMS/zero-crossing rate."""
    import math

    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    # 100 alternating +/- full-scale-ish samples: +16384, -16384, ...
    square = [16384 if i % 2 == 0 else -16384 for i in range(100)]
    wav = _wav_bytes(square, rate=16000)
    assets = spark.createDataFrame(
        [
            Row(
                asset_id=1,
                modality="audio",
                payload=bytearray(wav),
                meta=Row(width=None, height=None, sample_rate=16000,
                         n_frames=None),
            )
        ],
        mm.ASSET_SCHEMA,
    )
    row = mm.extract_features(assets, fake_codec=False).collect()[0]
    amp = 16384 / 32768.0  # 0.5 after normalization
    assert row["features"] == [
        round(math.log10(100) / 10.0, 6),   # log10(n)/10
        round(16000 / 192000.0, 6),         # rate
        0.5,                                # mean 0 -> mapped to 0.5
        amp,                                # std of a +-0.5 square wave
        round((-amp + 1) / 2, 6),           # min -> [0,1]
        round((amp + 1) / 2, 6),            # max -> [0,1]
        amp,                                # rms
        1.0,                                # zero-crossing every step
    ]
    assert mm.decode_payload(wav, "audio", fake_codec=False) == row["features"]


def test_wav_malformed_payloads_hit_gate():
    """Truncated/unsupported WAV payloads fall through to the honest
    NotImplementedError gate, never surface parse exceptions."""
    import struct

    import pytest as _pytest

    from mapreducekmean_spark import multimodal as mm

    good = _wav_bytes([0, 1000, -1000], rate=8000)
    malformed = [
        b"RIFF",                        # truncated header
        b"RIFF\x00\x00\x00\x00WAVE",    # no chunks
        good[:30],                      # truncated mid-fmt
        good.replace(b"data", b"datx"), # missing data chunk
        # non-PCM format code (3 = IEEE float)
        good.replace(struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1),
    ]
    for payload in malformed:
        assert mm._decode_audio_wav(payload) is None
        with _pytest.raises(NotImplementedError):
            mm.decode_payload(payload, "audio", fake_codec=False)


def test_stream_word_count_matches_batch(spark, sf_small):
    """The streaming running word count converges to exactly the batch
    term frequencies once the source is drained (complete output)."""
    from mapreducekmean_spark.operators.text import documents, word_count
    from mapreducekmean_spark.streaming.jobs import (
        read_documents_stream,
        stream_word_count,
    )

    batch = {
        (r["token"], r["n"])
        for r in word_count(documents(spark, sf_small)).collect()
    }
    stream = stream_word_count(read_documents_stream(spark, sf_small))
    run_to_memory(stream, "wc_out", output_mode="complete")
    got = {
        (r["token"], r["n"])
        for r in spark.sql("SELECT token, n FROM wc_out").collect()
    }
    assert got == batch and len(got) > 0


def test_multimodal_resize_dims_agree_with_plan(spark):
    """The pixel path and the metadata plan must round .5 dimensions
    identically (HALF_UP): a 10x5 image clamped to max_side=5 is 5x3 in
    BOTH, not 5x3 vs 5x2."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    img = _ppm_bytes(10, 5, lambda x, y: (7, 7, 7))
    assets = spark.createDataFrame(
        [Row(asset_id=1, modality="image", payload=bytearray(img),
             meta=Row(width=10, height=5, sample_rate=None, n_frames=None))],
        mm.ASSET_SCHEMA,
    )
    plan = mm.resize_plan(assets, max_side=5).collect()[0]
    real = mm.resize_images(assets, max_side=5).collect()[0]
    assert (plan["out_width"], plan["out_height"]) == (5, 3)
    assert (real["out_width"], real["out_height"]) == (5, 3)


def test_frame_sample_fake_codec_null_nframes_keeps_asset(spark):
    """fake_codec with a NULL n_frames must still emit one ok=false row
    instead of silently dropping the asset."""
    from pyspark.sql import Row

    from mapreducekmean_spark import multimodal as mm

    assets = spark.createDataFrame(
        [Row(asset_id=9, modality="video", payload=bytearray(b"???"),
             meta=Row(width=None, height=None, sample_rate=None,
                      n_frames=None))],
        mm.ASSET_SCHEMA,
    )
    rows = mm.frame_sample(assets, every_n=2, fake_codec=True).collect()
    assert len(rows) == 1 and rows[0]["ok"] is False


def test_streaming_cms_matches_batch(spark, sf_small):
    """Cell-wise mergeability makes the streaming sketch EXACT-equal to
    batch: two artificial micro-batches merged on the driver, and a real
    stream drained through foreachBatch, both reproduce the whole-corpus
    counter table cell for cell — and driver-side hashlib estimates
    agree with the distributed estimate path."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.sketch import (
        cms_counters,
        cms_estimate,
    )
    from mapreducekmean_spark.operators.text import documents
    from mapreducekmean_spark.streaming.jobs import (
        StreamingCMS,
        read_documents_stream,
    )

    docs = documents(spark, sf_small)
    whole = {(r.j, r.bucket): r.cnt for r in cms_counters(docs).collect()}

    cms = StreamingCMS()
    cms.update(docs.filter(F.col("doc_id") % 2 == 0))
    cms.update(docs.filter(F.col("doc_id") % 2 == 1))
    assert cms.counters == whole

    cms2 = StreamingCMS()
    cms2.run(read_documents_stream(spark, sf_small))
    assert cms2.counters == whole

    from mapreducekmean_spark.operators.text import tokens

    some = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .count()
        .orderBy(F.desc("count"), "token")
        .limit(5)
    )
    dist = {
        r.token: r.est
        for r in cms_estimate(some, cms_counters(docs)).collect()
    }
    for token, est in dist.items():
        assert cms.estimate(token) == est, token


def _wav_g711_bytes(codes: bytes, law: int, rate=8000) -> bytes:
    """RIFF/WAVE payload holding G.711 code bytes (format 6=A-law,
    7=mu-law, 8 bits per sample)."""
    import struct

    fmt = struct.pack("<HHIIHH", law, 1, rate, rate, 1, 8)
    data = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(codes)) + codes)
    return b"RIFF" + struct.pack("<I", 4 + len(data)) + b"WAVE" + data


@pytest.mark.parametrize("law", [6, 7])
def test_wav_g711_roundtrip_decodes(law):
    """G.711 companded audio: compress a known int16 ramp with the
    encoder half, decode the WAV through the real audio branch, and
    check the expansion is (a) monotone in the input, (b) within the
    G.711 quantization error (max segment step / 2), and (c) near-exact
    at small amplitudes where the companding grid is dense."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    ramp = np.linspace(-30000, 30000, 601).astype(np.int16)
    codes = mm._g711_compress(ramp, law)
    wav = _wav_g711_bytes(codes, law)
    out = mm._decode_audio_wav(wav)
    assert out is not None
    samples, rate = out
    assert rate == 8000 and samples.shape == (601,)
    rec = samples * 32768.0
    # monotone (nearest-code companding preserves order on a ramp)
    assert (np.diff(rec) >= 0).all()
    # max quantization error: top mu-law segment step is 8031/128*...;
    # both laws stay under ~1024 for |x| <= 30000
    assert np.abs(rec - ramp).max() < 1024
    # near zero both laws' grids are dense: step 16 → nearest-code
    # error ≤ 8 (mu-law segment 0 step is 8, A-law is 16)
    small = np.abs(ramp) <= 120
    assert small.any()
    assert np.abs(rec - ramp)[small].max() <= 8


def test_wav_g711_silence_and_gate():
    """The all-silence code decodes to ~0, and a G.711 chunk claiming
    16-bit samples is rejected to the gate (malformed, not crashed)."""
    import struct

    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    for law in (6, 7):
        zero_code = mm._g711_compress(np.zeros(8, dtype=np.int16), law)
        samples, _ = mm._decode_audio_wav(_wav_g711_bytes(zero_code, law))
        assert np.abs(samples).max() * 32768.0 <= 8
        bad = _wav_g711_bytes(zero_code, law).replace(
            struct.pack("<HHIIHH", law, 1, 8000, 8000, 1, 8),
            struct.pack("<HHIIHH", law, 1, 8000, 8000, 1, 16),
            1,
        )
        assert mm._decode_audio_wav(bad) is None


def test_gif_roundtrip_exact():
    """GIF is lossless (palette + LZW): encode→decode must reproduce
    every pixel exactly, interlaced or not, across palette sizes that
    exercise 1..8-bit codes."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(11)
    for n_colors, (h, w) in [(2, (5, 7)), (7, (23, 40)), (250, (61, 53))]:
        pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
        idx = rng.integers(0, n_colors, (h, w))
        img = pal[idx]
        for interlace in (False, True):
            payload = mm._encode_gif(img, interlace=interlace)
            out = mm._decode_gif_rgb(payload)
            assert out is not None and out.shape == img.shape
            assert (out == img).all(), (n_colors, h, w, interlace)
            # and through the shared dispatcher
            assert (mm._decode_image_rgb(payload) == img).all()


def test_gif_lzw_width_growth_and_table_saturation():
    """A 256-color noise image forces the code width through every stop
    to 12 bits and past the 4096-entry table reset (clear-code path);
    the round trip must stay bit-exact."""
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    rng = np.random.default_rng(5)
    pal = np.stack(
        [np.arange(256), np.arange(256)[::-1], np.zeros(256)], axis=1
    ).astype(np.uint8)
    idx = rng.integers(0, 256, (120, 130))
    img = pal[idx]
    payload = mm._encode_gif(img)
    out = mm._decode_gif_rgb(payload)
    assert out is not None and (out == img).all()


def test_gif_hand_packed_spec_fixture():
    """A 2×2 two-color GIF hand-packed from the spec (LSB-first codes,
    width growing 3→4 bits when the decoder table hits 8 entries) —
    independent of the encoder, so a symmetric encoder/decoder bug
    cannot hide here. Codes: clear(4),0,1,1 at 3 bits, then 0,end(5)
    at 4 bits → bytes 44 02 05."""
    import struct

    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    payload = bytearray(b"GIF89a")
    payload += struct.pack("<HHBBB", 2, 2, 0x80, 0, 0)  # GCT, 2 entries
    payload += bytes([255, 0, 0, 0, 0, 255])  # 0=red, 1=blue
    payload += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
    payload += bytes([2])  # min code size
    data = b"\x44\x02\x05"
    payload += bytes([len(data)]) + data + b"\x00\x3b"
    out = mm._decode_gif_rgb(bytes(payload))
    expect = np.array(
        [[[255, 0, 0], [0, 0, 255]], [[0, 0, 255], [255, 0, 0]]],
        dtype=np.uint8,
    )
    assert out is not None and (out == expect).all()


def test_gif_malformed_payloads_hit_gate_not_parse_error():
    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    img[::2] = 200
    good = mm._encode_gif(img)
    malformed = [
        b"GIF89a",                      # truncated at header
        good[:20],                      # truncated in palette
        good[:6] + b"\x3b",             # trailer, no frame
        good.replace(b"\x02", b"\x01", 1)[:len(good)],  # corrupt LSD
        good[:-10],                     # truncated pixel data
    ]
    for payload in malformed:
        assert mm._decode_gif_rgb(bytes(payload)) is None
    # animation-adjacent: a graphic-control extension before the frame
    # must be skipped, not decoded (header 13 + 2-slot palette 6 = 19)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    ext = good[:19] + gce + good[19:]
    out = mm._decode_gif_rgb(bytes(ext))
    assert out is not None and (out == img).all()


def test_gif_lzw_bomb_bounded_by_pixel_count():
    """A payload whose LZW stream would expand to a megabyte while the
    header declares a 2×2 frame must decode bounded: the decoder stops
    at the declared pixel count instead of materializing the bomb
    (KwKwK amplification is unbounded without the cap)."""
    import struct

    import numpy as np

    from mapreducekmean_spark import multimodal as mm

    bomb_indices = bytes(1 << 20)  # 1M zero pixels, compresses tiny
    data = mm._gif_lzw_encode(bomb_indices, 2)
    assert len(data) < 8192  # the stream itself is small
    payload = bytearray(b"GIF89a")
    payload += struct.pack("<HHBBB", 2, 2, 0x80, 0, 0)
    payload += bytes([10, 20, 30, 40, 50, 60])  # 2-color palette
    payload += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
    payload += bytes([2])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        payload += bytes([len(chunk)]) + chunk
    payload += b"\x00\x3b"
    out = mm._decode_gif_rgb(bytes(payload))
    assert out is not None and out.shape == (2, 2, 3)
    assert (out == np.array([10, 20, 30], dtype=np.uint8)).all()
    # the raw decoder honors the cap directly (allowing a final entry
    # to overshoot by at most its own length)
    raw = mm._gif_lzw_decode(data, 2, max_out=4)
    assert 4 <= len(raw) < 4 + 4096


def test_stream_land_partitions_idempotent_replay(spark, tmp_path):
    """Two micro-batches with disjoint partition sets land the same
    layout as one batch write, and replaying a batch (the crash-rerun
    case) leaves the table unchanged instead of duplicating rows."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducekmean_spark.sources import upsert_partitions
    from mapreducekmean_spark.streaming.jobs import stream_land_partitions

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(1, i, float(i)) for i in range(10)],
        [(2, i, float(-i)) for i in range(7)],
    ]
    schema = pa.schema(
        [("day", pa.int32()), ("id", pa.int64()), ("v", pa.float64())]
    )
    for bi, rows in enumerate(batches):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(rows, columns=["day", "id", "v"]),
                schema=schema,
            ),
            src / f"b{bi}.parquet",
        )
    out = str(tmp_path / "landed")
    stream = (
        spark.readStream.schema("day int, id bigint, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    stream_land_partitions(stream, out, "day")
    landed = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("day", "id", "v").collect()
    )
    expect = sorted((d, i, v) for b in batches for d, i, v in b)
    assert landed == expect

    # crash-rerun: replay batch 2's data as a fresh upsert → unchanged
    replay = spark.createDataFrame(
        batches[1], "day int, id bigint, v double"
    )
    upsert_partitions(replay, out, "day")
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(out).select("day", "id", "v").collect()
    )
    assert again == expect


def test_stream_scd2_closed_segments_match_batch(spark, sf_small):
    """The streaming SCD2 maintainer's appended (closed) segments must
    equal the batch operator's non-current rows, column for column."""
    from mapreducekmean_spark.operators.cdc import scd2_history
    from mapreducekmean_spark.streaming.jobs import (
        read_events_stream,
        stream_scd2,
    )

    out = stream_scd2(read_events_stream(spark, sf_small))
    run_to_memory(out, "scd2_out")
    streamed = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, seg_id, status, valid_from_us, valid_to_us,"
            " n_events FROM scd2_out"
        ).collect()
    )
    batch = sorted(
        (r.user_id, r.seg_id, r.status, r.valid_from_us, r.valid_to_us,
         r.n_events)
        for r in scd2_history(ev.events(spark, sf_small)).collect()
        if not r.is_current
    )
    assert streamed == batch and streamed


def test_stream_scd2_multibatch_equals_onebatch(spark, sf_small, tmp_path):
    """Two ts-ordered micro-batches (append-only event time — the CDC
    feed contract) must close exactly the segments the one-batch run
    closes: the open segment survives the batch boundary in state."""
    import os
    import time as _time

    from mapreducekmean_spark.operators.cdc import scd2_history
    from mapreducekmean_spark.streaming.jobs import (
        normalize_event_ts,
        stream_scd2,
    )

    events = ev.events(spark, sf_small).localCheckpoint()
    (split,) = events.agg(
        F.percentile_approx(F.unix_micros("ts"), 0.5).alias("m")
    ).collect()
    early = events.filter(F.unix_micros("ts") <= split.m)
    late = events.filter(F.unix_micros("ts") > split.m)
    src = str(tmp_path / "ev_stream")
    os.makedirs(src)
    early.coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    late.coalesce(1).write.mode("overwrite").parquet(src + "/b2")
    # flatten: one file per batch dir, staged with increasing mtimes so
    # the file source (maxFilesPerTrigger=1) picks them up in ts order
    import glob
    import shutil

    for i, d in enumerate(("b1", "b2")):
        (f,) = glob.glob(f"{src}/{d}/part-*.parquet")
        dst = f"{src}/batch_{i}.parquet"
        shutil.move(f, dst)
        os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))
        shutil.rmtree(f"{src}/{d}")
    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_scd2(normalize_event_ts(stream))
    run_to_memory(out, "scd2_mb")
    streamed = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, seg_id, status, valid_from_us, valid_to_us,"
            " n_events FROM scd2_mb"
        ).collect()
    )
    batch = sorted(
        (r.user_id, r.seg_id, r.status, r.valid_from_us, r.valid_to_us,
         r.n_events)
        for r in scd2_history(events).collect()
        if not r.is_current
    )
    assert streamed == batch and streamed


def test_streaming_bottomk_matches_batch_sketch(spark, sf_small):
    """Min-union exactness makes the running quantile sketch equal to
    batch: two artificial micro-batches merged on the driver, and a
    real stream drained through foreachBatch, both reproduce the
    whole-corpus bottom-k sample row for row — and the driver-side
    positional estimates equal the distributed sketch_quantiles row."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.events import events
    from mapreducekmean_spark.operators.sketch import (
        bottomk_sample,
        sketch_quantiles,
    )
    from mapreducekmean_spark.streaming.jobs import (
        StreamingBottomK,
        read_events_stream,
    )

    ev = events(spark, sf_small)
    whole = {
        t: sorted(
            (r.skey, r.cents)
            for r in bottomk_sample(ev).filter(
                F.col("event_type") == t
            ).collect()
        )
        for t in [
            r.event_type
            for r in ev.select("event_type").distinct().collect()
        ]
    }

    sk1 = StreamingBottomK()
    sk1.update(ev.filter(F.col("event_id") % 2 == 0))
    sk1.update(ev.filter(F.col("event_id") % 2 == 1))
    assert {t: sorted(v) for t, v in sk1.samples.items()} == whole

    sk2 = StreamingBottomK()
    sk2.run(read_events_stream(spark, sf_small))
    assert {t: sorted(v) for t, v in sk2.samples.items()} == whole

    batch_rows = {
        r.event_type: r for r in sketch_quantiles(ev).collect()
    }
    for t, r in batch_rows.items():
        est = sk2.quantiles(t)
        assert est == {
            "n_sampled": r.n_sampled,
            "p50_est": r.p50_est,
            "p90_est": r.p90_est,
            "p99_est": r.p99_est,
        }


def test_streaming_bottomk_replay_and_overlap_are_noops(spark, sf_small):
    """Redelivery needs no batch-id guard: the merge is keyed by skey
    and keeps the k smallest keys, so (1) an exact redelivery of a
    batch changes nothing, (2) an overlapping batch (same events seen
    twice) puts each duplicate in ONE sample slot and the state still
    equals the whole-corpus sketch, and (3) an empty batch is a
    no-op."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.events import events
    from mapreducekmean_spark.operators.sketch import bottomk_sample
    from mapreducekmean_spark.streaming.jobs import StreamingBottomK

    ev = events(spark, sf_small)
    whole = {
        t: sorted(
            (r.skey, r.cents)
            for r in bottomk_sample(ev)
            .filter(F.col("event_type") == t)
            .collect()
        )
        for t in [
            r.event_type
            for r in ev.select("event_type").distinct().collect()
        ]
    }

    sk = StreamingBottomK()
    even = ev.filter(F.col("event_id") % 2 == 0)
    sk.update(even, batch_id=0)
    sk.update(even, batch_id=0)  # exact redelivery: no change
    sk.update(ev, batch_id=1)  # overlap: even rows seen again
    assert {t: sorted(v) for t, v in sk.samples.items()} == whole
    state = {t: list(v) for t, v in sk.samples.items()}
    sk.update(ev.limit(0), batch_id=1)  # empty batch: no-op
    assert sk.samples == state


def test_streaming_bottomk_second_run_merges(spark, sf_small):
    """``run`` keeps no checkpoint, so every run restarts batch ids at 0.
    A second run on the same sketch must still merge its batches: the
    events stream filtered to even event_id, then a second run filtered
    to odd, reproduces the whole-corpus sketch."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.events import events
    from mapreducekmean_spark.operators.sketch import bottomk_sample
    from mapreducekmean_spark.streaming.jobs import (
        StreamingBottomK,
        read_events_stream,
    )

    ev = events(spark, sf_small)
    whole = {}
    for r in bottomk_sample(ev).collect():
        whole.setdefault(r.event_type, []).append((r.skey, r.cents))

    sk = StreamingBottomK()
    stream = read_events_stream(spark, sf_small)
    sk.run(stream.filter(F.col("event_id") % 2 == 0))
    sk.run(stream.filter(F.col("event_id") % 2 == 1))
    assert {t: sorted(v) for t, v in sk.samples.items()} == {
        t: sorted(v) for t, v in whole.items()
    }
