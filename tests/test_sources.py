"""Source/sink coverage: format round-trips, reference-native points CSV
parity (safe vs strict parse), and the versioned iteration archive
(SURVEY.md §2.1 R1, R10, R12)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreducekmean_spark.sources import (
    archive_iteration,
    load_table,
    read_archive,
    read_points_csv,
    write_csv,
    write_json,
    write_parquet,
    write_points_csv,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_parquet_roundtrip(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "nation")
    write_parquet(src, str(tmp_path / "nation_pq"))
    back = spark.read.parquet(str(tmp_path / "nation_pq"))
    assert _sorted_rows(back) == _sorted_rows(src)


def test_csv_roundtrip_with_schema(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "region")
    write_csv(src, str(tmp_path / "region_csv"))
    back = spark.read.csv(
        str(tmp_path / "region_csv"), header=True, schema=src.schema
    )
    assert _sorted_rows(back) == _sorted_rows(src)


def test_json_roundtrip(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "supplier")
    write_json(src, str(tmp_path / "supplier_json"))
    back = spark.read.schema(src.schema).json(str(tmp_path / "supplier_json"))
    assert _sorted_rows(back) == _sorted_rows(src)


def test_points_csv_reference_format_roundtrip(spark, tmp_path):
    """The sink writes the exact "x,y" line format the reference parses
    (PointsMapper.java:61-63); the reader restores typed doubles."""
    pts = spark.createDataFrame(
        [Row(x=1.5, y=-2.25), Row(x=0.0, y=3.125)]
    )
    write_points_csv(pts, str(tmp_path / "pts"))
    lines = {
        r.value
        for r in spark.read.text(str(tmp_path / "pts")).collect()
    }
    assert lines == {"1.5,-2.25", "0.0,3.125"}
    back = read_points_csv(spark, str(tmp_path / "pts"))
    assert _sorted_rows(back) == [(0.0, 3.125), (1.5, -2.25)]


def test_points_csv_permissive_drops_malformed(spark, tmp_path):
    """Engine policy (SURVEY.md §1.2): malformed lines become NULL and are
    filtered, replacing the reference's crash-the-task semantics."""
    p = tmp_path / "bad.csv"
    p.write_text("1.0,2.0\nnot,numeric\n3.0\n,\n4.0,5.0\n")
    got = _sorted_rows(read_points_csv(spark, str(p)))
    assert got == [(1.0, 2.0), (4.0, 5.0)]


def test_points_csv_strict_raises(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("1.0,2.0\nnot,numeric\n")
    with pytest.raises(Exception):
        read_points_csv(spark, str(p), strict=True).collect()


def test_archive_partitioned_history(spark, sf_small, tmp_path):
    """R12: per-iteration centroid history as iteration= partitions, with
    partition pruning on read-back."""
    from mapreducekmean_spark.operators import kmeans as km

    pts = km.embeddings(spark, sf_small)
    init = km.deterministic_init(pts, 4)
    cents = km.collect_centroids(init)
    arch = str(tmp_path / "archive")
    for it in range(2):
        wide = km.centroid_update_wide(km.assign(pts, cents), 64)
        archive_iteration(wide, arch, it)
        cents = [
            list(r.centroid)
            for r in wide.orderBy("cluster_id").collect()
        ]
    hist = read_archive(spark, arch)
    assert set(
        r.iteration for r in hist.select("iteration").distinct().collect()
    ) == {0, 1}
    one = hist.filter(F.col("iteration") == 1)
    # partition pruning: the scan's partition filter mentions `iteration`
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "iteration" in plan
    assert one.count() == 4


def test_points_datasource_reads_reference_format(spark, tmp_path):
    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    p = tmp_path / "pts.csv"
    p.write_text("1.0,2.0\nbad,line\n3.5,-4.25\nNaN,1.0\nInfinity,2.0\n")
    df = spark.read.format("points").load(str(p))
    assert sorted(tuple(r) for r in df.collect()) == [(1.0, 2.0), (3.5, -4.25)]


def test_points_datasource_partitions_per_file(spark, tmp_path):
    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    d = tmp_path / "many"
    d.mkdir()
    for i in range(3):
        (d / f"part{i}.csv").write_text(f"{i}.0,{i}.0\n")
    df = spark.read.format("points").load(str(d))
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 3


def test_points_datasource_filter_pushdown_correct(spark, tmp_path):
    """Pushed x/y comparisons filter inside the reader; unsupported
    predicates still apply post-scan — result equals the unpushed
    filter either way."""
    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    p = tmp_path / "pts.csv"
    p.write_text("".join(f"{i}.0,{10 - i}.0\n" for i in range(10)))
    df = spark.read.format("points").load(str(p))
    got = sorted(
        tuple(r)
        for r in df.filter((F.col("x") > 3.0) & (F.col("y") >= 5.0)).collect()
    )
    assert got == [(4.0, 6.0), (5.0, 5.0)]


def test_points_datasource_writer_roundtrip(spark, sf_small, tmp_path):
    """Sink half: write the embeddings 2-d projection through the points
    sink, read it back through the points source, and hash-match the
    parquet-path original — bit-exact (repr round-trip)."""
    from mapreducekmean_spark.operators.kmeans import embeddings
    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    pts = embeddings(spark, sf_small).select(
        F.element_at("emb", 1).alias("x"), F.element_at("emb", 2).alias("y")
    )
    out = str(tmp_path / "pts_out")
    pts.write.format("points").mode("append").save(out)
    back = spark.read.format("points").load(out)
    want = sorted(tuple(r) for r in pts.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want and len(got) == 500


def test_points_datasource_writer_overwrite_replaces(spark, tmp_path):
    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    out = str(tmp_path / "ow")
    df1 = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "x double, y double")
    df2 = spark.createDataFrame([(9.0, 9.0)], "x double, y double")
    df1.write.format("points").mode("append").save(out)
    df2.write.format("points").mode("overwrite").save(out)
    got = sorted(tuple(r) for r in spark.read.format("points").load(out).collect())
    assert got == [(9.0, 9.0)]


def test_points_datasource_writer_append_accumulates(spark, tmp_path):
    """Two append jobs into the same directory must both survive (per-job
    part-file suffix prevents name collisions)."""
    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    out = str(tmp_path / "app")
    spark.createDataFrame([(1.0, 1.0)], "x double, y double").write.format(
        "points"
    ).mode("append").save(out)
    spark.createDataFrame([(2.0, 2.0)], "x double, y double").write.format(
        "points"
    ).mode("append").save(out)
    got = sorted(tuple(r) for r in spark.read.format("points").load(out).collect())
    assert got == [(1.0, 1.0), (2.0, 2.0)]


def test_points_datasource_writer_overwrite_spares_dirs_and_meta(
    spark, tmp_path
):
    """Overwrite cleanup must only remove this sink's visible part
    files: subdirectories and underscore/dot names survive, and the new
    data is renamed into place before any old file is removed."""
    import os

    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    out = tmp_path / "ow2"
    out.mkdir()
    (out / "_spark_metadata").mkdir()
    (out / "_SUCCESS").write_text("")
    (out / "old-part.csv").write_text("1.0,1.0\n")
    spark.createDataFrame([(9.0, 9.0)], "x double, y double").write.format(
        "points"
    ).mode("overwrite").save(str(out))
    names = set(os.listdir(out))
    assert "_spark_metadata" in names and "_SUCCESS" in names
    assert "old-part.csv" not in names
    got = [tuple(r) for r in spark.read.format("points").load(str(out)).collect()]
    assert got == [(9.0, 9.0)]


def test_points_datasource_writer_rejects_non_finite(spark, tmp_path):
    """Non-finite coordinates must fail the write loudly — the reader
    drops them as malformed, so accepting them would make the round
    trip silently lossy."""
    import pytest as _pytest

    from mapreducekmean_spark.sources.points_datasource import register

    register(spark)
    out = str(tmp_path / "nf")
    df = spark.createDataFrame(
        [(float("nan"), 1.0)], "x double, y double"
    )
    with _pytest.raises(Exception, match="non-finite"):
        df.write.format("points").mode("append").save(out)


def test_utc_boundary_literals_session_independent(spark):
    """_utc_ts must yield the same instant under any session timezone —
    a bare string→timestamp cast would shift with the session zone
    (ADVICE r4)."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.operators.relational import _utc_ts

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        got = set()
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got.add(
                spark.range(1)
                .select(F.unix_micros(_utc_ts("1996-01-01")).alias("us"))
                .collect()[0]
                .us
            )
        assert got == {820454400 * 1_000_000}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_load_table_pins_utc_unconditionally(spark, sf_small):
    """The UTC pin is the engine's documented time semantics and must not
    depend on which table loads first or the fixture's timestamp
    physical type (ADVICE r4: it used to fire only on the NTZ branch)."""
    from mapreducekmean_spark.sources import load_table

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        load_table(spark, sf_small, "region")  # no timestamp column at all
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_load_table_timestamps_native_and_pushable(spark, sf_small):
    """Fixture timestamp columns must come back as plain TimestampType
    whose epoch values equal the NTZ wall clock read as UTC (what
    to_utc_timestamp(ntz, 'UTC') produced before), AND date predicates
    on them must reach the parquet scan as pushed filters — the
    expression-wrapped conversion silently turned every date-filtered
    query into a full-table scan (r5 bench regression)."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.sources import load_table

    li = load_table(spark, sf_small, "lineitem")
    assert dict(li.dtypes)["l_shipdate"] == "timestamp"
    # value parity with an explicit NTZ read of the same file
    old = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        raw = spark.read.parquet(f"{sf_small}/lineitem.parquet")
        if dict(raw.dtypes)["l_shipdate"] == "timestamp_ntz":
            want = raw.select(
                F.sum(F.unix_seconds(F.to_utc_timestamp("l_shipdate", "UTC")))
                .alias("s")
            ).collect()[0].s
            got = li.select(
                F.sum(F.unix_seconds("l_shipdate")).alias("s")
            ).collect()[0].s
            assert got == want
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)
    # pushdown: the shipdate comparison must appear among PushedFilters
    flt = li.filter(
        F.col("l_shipdate") >= F.timestamp_micros(F.lit(820454400000000))
    )
    plan = flt._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "Scan parquet" in l or "PushedFilters" in l]
    joined = " ".join(scan)
    assert "PushedFilters: [" in joined
    pushed = joined.split("PushedFilters: [", 1)[1].split("]")[0]
    # the RANGE predicate itself must be pushed — a bare IsNotNull
    # (which Catalyst infers even when the comparison wraps an
    # expression and cannot push) must not satisfy this guard
    assert "GreaterThanOrEqual(l_shipdate" in pushed, pushed


def _load_counting_jobs(spark, sf_dir, name):
    """``load_table`` under its own job group: (frame, jobs launched)."""
    sc = spark.sparkContext
    group = f"load-table-{name}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_memoizes_schema(spark, sf_small, tmp_path, monkeypatch):
    """A repeat ``load_table`` of an unchanged fixture file launches no
    schema-inference job and returns the same schema and rows; a file
    rewritten in place is inferred afresh."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducekmean_spark.sources import readers

    monkeypatch.setattr(readers, "_SCHEMA_MEMO", {}, raising=False)
    for name in readers.TABLES:
        first = load_table(spark, sf_small, name)
        again, jobs = _load_counting_jobs(spark, sf_small, name)
        assert jobs == 0, name
        assert again.schema == first.schema, name
        assert sorted(map(repr, again.collect())) == sorted(
            map(repr, first.collect())
        ), name

    src = pq.read_table(f"{sf_small}/region.parquet")
    pq.write_table(src, tmp_path / "region.parquet")
    assert load_table(spark, str(tmp_path), "region").schema.names == (
        src.column_names
    )
    pq.write_table(
        src.append_column("r_extra", pa.array(range(src.num_rows))),
        tmp_path / "region.parquet",
    )
    df, jobs = _load_counting_jobs(spark, str(tmp_path), "region")
    assert jobs >= 1
    assert df.schema.names == src.column_names + ["r_extra"]


def test_upsert_partitions_touches_only_named_partitions(spark, tmp_path):
    """Dynamic partition overwrite: rewriting day=2's data must leave
    day=1 and day=3 byte-identical on disk, replace day=2 wholesale,
    and restore the session's partitionOverwriteMode afterwards."""
    import os

    from pyspark.sql import functions as F

    from mapreducekmean_spark.sources import (
        upsert_partitions,
        write_partitioned,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(d, i, float(i)) for d in (1, 2, 3) for i in range(5)],
        "day int, id int, v double",
    )
    write_partitioned(base, path, "day")

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(
                os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith(("_", "."))
        )

    before_1, before_3 = files_of(1), files_of(3)
    mode_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    updates = spark.createDataFrame(
        [(2, 99, -1.0), (2, 98, -2.0)], "day int, id int, v double"
    )
    upsert_partitions(updates, path, "day")

    assert files_of(1) == before_1 and files_of(3) == before_3
    got = spark.read.parquet(path)
    assert got.filter("day = 2").count() == 2
    assert {r.id for r in got.filter("day = 2").collect()} == {98, 99}
    assert got.filter("day != 2").count() == 10  # neighbors intact
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        == mode_before
    )
    # idempotent re-run: same updates, same result
    upsert_partitions(updates, path, "day")
    assert spark.read.parquet(path).count() == 12


def test_compact_partitions_reduces_files_preserves_data(spark, tmp_path):
    """Compaction over a deliberately fragmented layout (16 writer
    tasks × 3 partitions → dozens of tiny files) must collapse to ~1
    file per partition and leave the row multiset identical."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.sources import compact_partitions

    path = str(tmp_path / "frag")
    base = (
        spark.range(3000)
        .select(
            (F.col("id") % 3).cast("int").alias("day"),
            F.col("id").alias("v"),
        )
        .repartition(16)  # fragment: every task writes to every day
    )
    base.write.partitionBy("day").parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    stats = compact_partitions(spark, path, "day")
    assert stats["files_before"] > stats["files_after"]
    assert stats["files_after"] <= 6  # ~1 file/partition (+hash slack)
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before


def test_compact_partitions_splits_oversize_partition(spark, tmp_path):
    """With a tiny target size the salt path splits one partition into
    multiple files rather than collapsing everything to one."""
    from pyspark.sql import functions as F

    from mapreducekmean_spark.sources import compact_partitions

    path = str(tmp_path / "big")
    spark.range(20000).select(
        F.lit(1).alias("day"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    ).coalesce(1).write.partitionBy("day").parquet(path)
    before = sorted(
        r.payload for r in spark.read.parquet(path).collect()
    )
    stats = compact_partitions(
        spark, path, "day", target_file_bytes=64 * 1024
    )
    assert stats["files_after"] > 1
    after = sorted(r.payload for r in spark.read.parquet(path).collect())
    assert after == before


def test_compact_partitions_sizes_each_partition_independently(
    spark, tmp_path
):
    """The skewed-layout case ADVICE r5 flagged: one partition holding
    ~50× the bytes of its siblings. A mean-derived global files-per-
    partition would both under-split the big partition and shred the
    small ones; per-partition sizing must instead split ONLY the big
    partition while every small partition compacts to exactly one
    file — with the row multiset untouched."""
    import os

    from pyspark.sql import functions as F

    from mapreducekmean_spark.sources import compact_partitions

    path = str(tmp_path / "skew")
    big = spark.range(50000).select(
        F.lit(0).alias("day"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    small = spark.range(500).select(
        (F.col("id") % 4 + 1).cast("int").alias("day"),
        F.md5((-F.col("id")).cast("string")).alias("payload"),
    )
    big.unionByName(small).repartition(8).write.partitionBy(
        "day"
    ).parquet(path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )

    compact_partitions(spark, path, "day", target_file_bytes=256 * 1024)

    def files_in(day):
        d = os.path.join(path, f"day={day}")
        return [
            f for f in os.listdir(d) if not f.startswith(("_", "."))
        ]

    assert len(files_in(0)) > 1  # the big partition split by ITS bytes
    for day in (1, 2, 3, 4):
        assert len(files_in(day)) == 1, day  # small ones: exactly one
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before


def test_compact_partitions_handles_null_and_zero_padded_values(
    spark, tmp_path
):
    """The two partition-value encodings that break naive dir-string
    matching: a NULL partition (__HIVE_DEFAULT_PARTITION__ on disk) and
    a zero-padded string value ('hour=00') that Spark's partition-type
    inference reads back as int 0. Both must still get per-partition
    sizing — the big NULL partition splits, the others stay single-file
    — with the row multiset preserved."""
    import os

    from pyspark.sql import functions as F

    from mapreducekmean_spark.sources import compact_partitions

    path = str(tmp_path / "enc")
    big_null = spark.range(50000).select(
        F.lit(None).cast("string").alias("hour"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    padded = spark.range(300).select(
        F.format_string("%02d", (F.col("id") % 2)).alias("hour"),
        F.md5((-F.col("id") - 1).cast("string")).alias("payload"),
    )
    big_null.unionByName(padded).repartition(4).write.partitionBy(
        "hour"
    ).parquet(path)
    before = sorted(
        (r.payload, r.hour)
        for r in spark.read.parquet(path).collect()
    )

    compact_partitions(spark, path, "hour", target_file_bytes=256 * 1024)

    def files_in(d):
        full = os.path.join(path, d)
        return [
            f for f in os.listdir(full) if not f.startswith(("_", "."))
        ]

    assert len(files_in("hour=__HIVE_DEFAULT_PARTITION__")) > 1
    dirs = [
        d for d in os.listdir(path)
        if d.startswith("hour=") and "HIVE" not in d
    ]
    assert dirs
    for d in dirs:
        assert len(files_in(d)) == 1, d
    after = sorted(
        (r.payload, r.hour)
        for r in spark.read.parquet(path).collect()
    )
    assert after == before


def test_zorder_codes_are_morton_interleave(spark):
    """The Morton arithmetic against a hand-computed reference: scale
    both columns to 16 bits over their own min/max, interleave a's bit
    i to position 2i and b's to 2i+1."""
    from mapreducekmean_spark.sources.zorder import z_value

    df = spark.createDataFrame(
        [(0, 0), (65535, 0), (0, 65535), (65535, 65535), (21845, 43690)],
        "a bigint, b bigint",
    )
    got = {(r.a, r.b): r._z for r in z_value(df, "a", "b").collect()}

    def morton(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    # min/max are 0/65535 so the 16-bit scaling is the identity here
    assert got == {
        (a, b): morton(a, b)
        for (a, b) in [(0, 0), (65535, 0), (0, 65535),
                       (65535, 65535), (21845, 43690)]
    }


def test_zorder_layout_skips_on_both_columns(spark, tmp_path):
    """The measured data-skipping claim: over a 200k-row uniform (a, b)
    grid written as 64 files, a 10%-range predicate on EITHER column
    lets footer stats exclude most files of the z-ordered layout, while
    the a-sorted layout skips only on a. Values, not vibes: fractions
    from the actual written footers."""
    from mapreducekmean_spark.sources.zorder import (
        file_skip_fraction,
        write_zordered,
    )

    df = spark.range(200_000).select(
        (F.col("id") % 447).alias("a"),
        ((F.col("id") * 7919) % 447).alias("b"),
    )
    zpath = str(tmp_path / "zord")
    lpath = str(tmp_path / "linear")
    write_zordered(df, zpath, "a", "b", n_files=64)
    (
        df.repartitionByRange(64, "a")
        .sortWithinPartitions("a")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    # same rows either way — layout never changes results
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(lpath).count()
        == 200_000
    )
    lo, hi = 200, 244  # ~10% of the 0..446 domain
    z_a = file_skip_fraction(zpath, "a", lo, hi)
    z_b = file_skip_fraction(zpath, "b", lo, hi)
    l_a = file_skip_fraction(lpath, "a", lo, hi)
    l_b = file_skip_fraction(lpath, "b", lo, hi)
    assert l_a >= 0.85  # the sorted layout's one good column
    assert l_b <= 0.05  # ...and its blind spot
    assert z_a >= 0.5 and z_b >= 0.5  # the curve skips on BOTH
