"""Typed fixture readers + reference-native CSV points source."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: All driver-generated fixture tables (see /root/repo/TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Timestamp columns whose physical parquet type has varied across fixture
#: generations: TIMESTAMP(NANOS) (read as bigint via
#: ``spark.sql.legacy.parquet.nanosAsLong``, floored nanos→micros the same
#: way DuckDB's Python conversion does) or timezone-less TIMESTAMP(MICROS)
#: (read as TIMESTAMP_NTZ under Spark's parquet NTZ inference). Both are
#: normalized to TimestampType at UTC so downstream epoch math
#: (``unix_micros``, ``date_trunc``) is engine-exact vs DuckDB's naive
#: ``epoch_us``.
_NANOS_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: Driver-side memo of each fixture file's inferred schema, keyed by
#: (realpath, size, st_mtime_ns) like ``kmeans._INIT_MEMO``. Parquet
#: schema inference runs one Spark job per read (a footer read in a
#: task); a read with the schema given runs none. The stat fingerprint
#: re-infers when a file is rewritten in place. Only regular files are
#: memoized: a dataset directory's own stat does not change when a part
#: file is rewritten.
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema from
    :data:`_SCHEMA_MEMO` when the file was read before."""
    import os

    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_size, st.st_mtime_ns)
    if key in _SCHEMA_MEMO:
        return spark.read.schema(_SCHEMA_MEMO[key]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    Parquet scan → Catalyst gets predicate pushdown + column pruning for
    free; this replaces the reference's whole-file text re-reads
    (``/root/reference/src/KMeans.java:54-58,214``).

    The nanos conf is set here (runtime conf, idempotent) rather than at
    session-build time so ANY SparkSession — including a vanilla one built
    by an external harness — can read the TIMESTAMP(NANOS) fixtures.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    # Without this, reading events.parquet dies with PARQUET_TYPE_ILLEGAL:
    # INT64 (TIMESTAMP(NANOS,false)) on sessions that didn't go through
    # our session factory.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The engine's documented time semantics are UTC (session.py pins the
    # same at build). Pinned here UNCONDITIONALLY — not per fixture
    # generation — so wall-clock results never depend on which table
    # loaded first or which parquet timestamp physical type the fixture
    # generation used (ADVICE r4).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Same external-session hardening for the Python-worker side: any
    # downstream operator that pickles module references (datasource,
    # mapInPandas, UDTF) needs the package importable on workers.
    from mapreducekmean_spark.shipping import ship_package

    ship_package(spark)
    # MICROS fixtures: read TIMESTAMP(isAdjustedToUTC=false) parquet
    # columns directly as TimestampType (stored wall-clock micros taken
    # as UTC-epoch micros — value-identical to the previous
    # to_utc_timestamp(NTZ, 'UTC') conversion, proven by the epoch-sum
    # equality in tests/test_sources.py) instead of TIMESTAMP_NTZ. This
    # keeps date predicates on the RAW column, so they reach the parquet
    # scan as PushedFilters; the expression-wrapped column cost every
    # date-filtered query a full-table scan (r5 bench: tpch_q6 0.36 s →
    # 3.2 s before this, back under 0.4 s after). SCOPED to this read —
    # the schema resolves eagerly inside spark.read.parquet(), and a
    # session-wide flip would silently retype OTHER NTZ parquet files an
    # external caller reads later (r5 review).
    ntz_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    ntz_old = spark.conf.get(ntz_key)
    spark.conf.set(ntz_key, "false")
    try:
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    finally:
        spark.conf.set(ntz_key, ntz_old)
    for col in _NANOS_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "timestamp_ntz":
            # Wall-clock micros reinterpreted as UTC — identical epoch
            # integers to DuckDB's naive-timestamp epoch_us.
            # to_utc_timestamp(col, 'UTC') is session-timezone-INDEPENDENT
            # (a bare cast to timestamp interprets the wall clock in the
            # session zone).
            df = df.withColumn(col, F.to_utc_timestamp(F.col(col), "UTC"))
        elif dtype == "bigint":
            # Exact integer floor-division (pmod keeps the remainder
            # non-negative, so pre-epoch nanos floor like DuckDB's).
            # float-based F.floor(col/1000) would lose precision: int64
            # nanos exceed double's 2^53 exact range.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")
                ),
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table keyed by name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def stage_points_csv(sf_dir: str, n_files: int = 8) -> str:
    """Stage the embeddings fixture's first two dimensions as a
    reference-native ``"x,y"`` CSV directory (idempotent per sf_dir,
    under /tmp), so declared queries can exercise the custom ``points``
    DataSource end-to-end against a DuckDB oracle over the same parquet.

    ``repr(float)`` is the shortest exact representation, so the
    text→float round trip reproduces the parquet doubles bit-exactly.
    ``n_files`` contiguous slices make the scan genuinely partitioned
    (one ``InputPartition`` per file).
    """
    import os
    import tempfile

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    # content fingerprint in the staging dir name: two fixture dirs that
    # share a basename, or a regenerated fixture at the same path, get
    # fresh staging instead of silently reusing stale CSV bytes
    tag = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{st.st_size}-{st.st_mtime_ns}"
    )
    out_dir = os.path.join(tempfile.gettempdir(), "mrkm_points_csv", tag)
    done = os.path.join(out_dir, "_done")
    if os.path.exists(done):
        return out_dir
    tbl = pq.read_table(src, columns=["embedding"])
    embs = tbl.column("embedding").to_pylist()
    os.makedirs(out_dir, exist_ok=True)
    chunk = max(1, (len(embs) + n_files - 1) // n_files)
    for i in range(0, max(len(embs), 1), chunk):
        part = embs[i : i + chunk]
        tmp = os.path.join(out_dir, f".part-{i // chunk:05d}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            for e in part:
                fh.write(f"{e[0]!r},{e[1]!r}\n")
        os.replace(tmp, os.path.join(out_dir, f"part-{i // chunk:05d}.csv"))
    with open(done, "w", encoding="utf-8"):
        pass
    return out_dir


POINTS_SCHEMA = T.StructType(
    [
        T.StructField("x", T.DoubleType(), True),
        T.StructField("y", T.DoubleType(), True),
    ]
)


def read_points_csv(spark: SparkSession, path: str, strict: bool = False) -> DataFrame:
    """Read the reference-native ``"x,y"`` points file.

    Reference parity: ``PointsMapper.java:61-63`` does
    ``value.toString().split(",")`` + two ``Double.parseDouble`` with no
    guard — a malformed line kills the task (SURVEY.md §1.2). Engine
    policy: parse with a typed schema; malformed fields become NULL and are
    dropped by the validity filter (the ``filter_valid`` operator) unless
    ``strict`` re-enables fail-fast semantics.
    """
    mode = "FAILFAST" if strict else "PERMISSIVE"
    df = spark.read.csv(path, schema=POINTS_SCHEMA, mode=mode)
    if strict:
        return df
    inf = float("inf")
    return df.filter(
        F.col("x").isNotNull()
        & F.col("y").isNotNull()
        & ~F.isnan("x")
        & ~F.isnan("y")
        & (F.abs("x") != inf)
        & (F.abs("y") != inf)
    )
