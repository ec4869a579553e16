"""Warehouse maintenance: CDC merge (MERGE INTO) and SCD type-2 history.

A 100 TB corpus or fact table is never rebuilt — it is MAINTAINED: a
change-data-capture feed of inserts/updates/deletes is merged into the
snapshot, and dimension attributes that change over time are tracked as
type-2 history rows. The reference engine has nothing like this (its 3
Java files run one K-Means job; see KMeans.java); this is part of the
engine's warehouse surface next to the partition-upsert writers in
``sources/sinks.py``.

Scale design — ``cdc_merge`` never shuffles the base snapshot: the
change batch collapses to one final row per key (a key-partitioned
aggregate over the BATCH, which is orders of magnitude smaller than the
base), and the base contributes via a key anti-join that AQE turns into
a broadcast when the batch is small — the common case. The output is
``(base ⟕anti changed-keys) ∪ upserts``, i.e. exactly the MERGE INTO
semantics (WHEN MATCHED UPDATE/DELETE, WHEN NOT MATCHED INSERT) without
a full-outer join over the snapshot. ``scd2_history`` is two windows
partitioned by the dimension key — embarrassingly parallel per key,
no global state.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

#: Synthetic-change knobs for the declared query (all interpolated into
#: the DuckDB twin): which keys delete / update / insert, and the exact
#: integer-cent price adjustments, so the whole batch is a pure function
#: of the orders fixture.
DELETE_MOD = 13
UPDATE_MOD = 7
SECOND_UPDATE_MOD = 21  # subset of UPDATE_MOD keys get a 2nd change row
INSERT_MOD = 11
UPDATE_BUMP_CENTS = 500
SECOND_BUMP_CENTS = 700

#: Collapsed change batches at or below this many rows broadcast their
#: key set to the anti-join (the no-snapshot-shuffle fast path); larger
#: batches fall back to the sort-merge the snapshot shuffle genuinely
#: requires, instead of OOMing the executors on a blind broadcast hint.
#: 10M bigint keys ≈ 80 MB broadcast — well under executor memory, far
#: cheaper than shuffling a 100 TB snapshot.
BROADCAST_BATCH_MAX_ROWS = 10_000_000


def _cents(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


def synthetic_changes(orders: DataFrame) -> DataFrame:
    """Derive a deterministic CDC batch from the ``orders`` fixture:
    deletes for keys ``% DELETE_MOD == 0``, updates (+500 cents, status
    'F') for keys ``% UPDATE_MOD == 0``, a SECOND, later update (+700
    cents total from base, status 'P') for keys ``% SECOND_UPDATE_MOD
    == 0`` — exercising last-write-wins — and inserts (key + offset,
    status 'O') for keys ``% INSERT_MOD == 0``. Precedence mirrors a
    real feed: a key can appear multiple times with increasing ``seq``.

    The insert-key offset is ``max(o_orderkey)`` DERIVED from the
    fixture (a broadcast 1-row aggregate), not a constant: every
    inserted key ``k + max_key`` then exceeds every base key at ANY
    scale factor, so inserts can never collide with base keys and
    produce duplicate ``(key, seq)`` change rows (a fixed 10M offset
    collides once o_orderkey reaches 6M×sf ≥ 10M, i.e. sf ≈ 1.7).

    Output: ``(o_orderkey, seq, op, o_custkey, price_cents, o_orderstatus)``.
    """
    k = F.col("o_orderkey")
    base = orders.select(
        k.alias("o_orderkey"),
        F.col("o_custkey"),
        _cents("o_totalprice").alias("price_cents"),
        F.col("o_orderstatus"),
    )
    deletes = base.filter(k % DELETE_MOD == 0).select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("D").alias("op"),
        "o_custkey",
        F.lit(None).cast("bigint").alias("price_cents"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    upd = base.filter((k % UPDATE_MOD == 0) & (k % DELETE_MOD != 0))
    updates = upd.select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("price_cents") + UPDATE_BUMP_CENTS).alias("price_cents"),
        F.lit("F").alias("o_orderstatus"),
    )
    second = upd.filter(k % SECOND_UPDATE_MOD == 0).select(
        "o_orderkey",
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
        "o_custkey",
        (F.col("price_cents") + SECOND_BUMP_CENTS).alias("price_cents"),
        F.lit("P").alias("o_orderstatus"),
    )
    mx = orders.agg(F.max("o_orderkey").alias("_max_key"))
    inserts = base.filter(
        (k % INSERT_MOD == 0) & (k % UPDATE_MOD != 0) & (k % DELETE_MOD != 0)
    ).crossJoin(F.broadcast(mx)).select(
        (F.col("o_orderkey") + F.col("_max_key")).alias("o_orderkey"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.col("price_cents"),
        F.lit("O").alias("o_orderstatus"),
    )
    return deletes.unionByName(updates).unionByName(second).unionByName(
        inserts
    )


def cdc_merge(
    base: DataFrame,
    changes: DataFrame,
    key: str = "o_orderkey",
    seq: str = "seq",
    op: str = "op",
    broadcast_batch: bool | None = None,
) -> DataFrame:
    """MERGE the change batch into the snapshot with last-write-wins per
    key: the highest-``seq`` change decides — 'D' removes the key, 'U'/
    'I' upsert the change row's payload. Exactly ANSI ``MERGE INTO``
    (matched-update, matched-delete, not-matched-insert) plus the
    multi-change collapse real CDC feeds need.

    Equal-``seq`` ties (a feed that emits two changes for a key at one
    sequence number) resolve DETERMINISTICALLY by the struct ordering
    ``(seq, op, payload…)``: op compares 'U' > 'I' > 'D', so an upsert
    outranks a delete at the same seq, and identical-op ties fall
    through to the payload columns in ``changes`` order. Each payload
    field enters the ordering as a ``(IS NOT NULL, value)`` pair:
    engines disagree on bare NULL ordering inside struct comparisons
    (Spark sorts struct NULL fields first, DuckDB's ``max`` treats
    NULLs as greatest), but the boolean flag is never null and orders
    identically in both, so non-null beats null on every field and the
    value slot only ever compares two non-nulls — the DuckDB twin's
    ``max(struct_pack(…))`` replays the exact same total order for ANY
    null pattern, not just same-op ties with matching null-ness.

    The base is never shuffled: changed keys leave via one LEFT ANTI
    join (broadcast under AQE when the batch is small — the common
    case), and the final per-key change rows come from a max-by-seq
    aggregate over the BATCH only. That collapsed batch feeds BOTH the
    anti-join and the upsert union branch, so it is localCheckpointed —
    one aggregate job, not a per-branch recompute. Payload columns =
    every non-(seq,op) column of ``changes``.

    ``broadcast_batch`` plants an explicit broadcast hint on the
    anti-join's batch side: the checkpointed batch is a LogicalRDD with
    no size statistics, so without the hint the planner assumes
    worst-case and sort-merges — shuffling the SNAPSHOT (the 15M-row
    probe caught exactly this). The default ``None`` decides by SIZE:
    the collapsed batch is already being materialized (checkpoint), so
    one cheap count picks broadcast iff it has at most
    ``BROADCAST_BATCH_MAX_ROWS`` rows — a huge batch degrades to the
    slow-but-safe snapshot shuffle instead of OOMing on a blind hint.
    Pass True/False to override the heuristic either way.
    """
    payload = [c for c in changes.columns if c not in (seq, op)]
    # one struct-max pass: (seq) ordering picks the final change per key
    final = (
        changes.groupBy(key)
        .agg(
            F.max(
                F.struct(
                    F.col(seq).alias("_s"),
                    F.col(op).alias(op),
                    *[
                        f
                        for c in payload
                        if c != key
                        # (IS NOT NULL, value) pair per payload field —
                        # see the docstring's null-ordering contract
                        for f in (
                            F.col(c).isNotNull().alias(f"_nn_{c}"),
                            F.col(c),
                        )
                    ],
                )
            ).alias("_w")
        )
        .select(
            key,
            F.col(f"_w.{op}").alias(op),
            *[F.col(f"_w.{c}").alias(c) for c in payload if c != key],
        )
        .localCheckpoint(eager=False)
    )
    if broadcast_batch is None:
        # materializes the checkpoint (reused by both branches below),
        # so the size probe costs one local count over cached blocks
        broadcast_batch = final.count() <= BROADCAST_BATCH_MAX_ROWS
    keys = final.select(key)
    if broadcast_batch:
        keys = F.broadcast(keys)
    survivors = base.join(keys, key, "left_anti")
    upserts = final.filter(F.col(op) != "D").drop(op)
    return survivors.unionByName(upserts)


def orders_cdc_snapshot(orders: DataFrame) -> DataFrame:
    """The declared-query composition: project orders to the integer-
    cent payload, derive the synthetic CDC batch, and MERGE it. Output
    is the post-merge snapshot ``(o_orderkey, o_custkey, price_cents,
    o_orderstatus)``, sorted by the driver's comparator (not here)."""
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        _cents("o_totalprice").alias("price_cents"),
        "o_orderstatus",
    )
    return cdc_merge(base, synthetic_changes(orders))


def scd2_history(ev: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 history of each user's
    ``event_type`` stream: consecutive equal values collapse into one
    validity segment with ``valid_from`` (first event micros),
    ``valid_to`` (next segment's start, NULL while current),
    ``is_current``, and the segment's event count. The run-collapse is
    the classic lag-flag + running-sum segment id; both windows
    partition by ``user_id`` — no global state, skew bounded by the
    busiest user.

    Total order within a user is ``(ts, event_id)`` — event_id is
    unique, so the segmentation is deterministic and the DuckDB twin
    replays it exactly. Validity bounds are emitted as epoch
    microseconds (the ``events_sessionize`` convention: integer time,
    no cross-engine timestamp encoding in the hash).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
    ).withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    seg = flagged.withColumn(
        "seg_id",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    segs = seg.groupBy("user_id", "seg_id").agg(
        F.min_by("event_type", F.struct("ts", "event_id")).alias("status"),
        F.min(F.struct("ts", "event_id")).alias("_start"),
        F.count("*").alias("n_events"),
    )
    ws = Window.partitionBy("user_id").orderBy("seg_id")
    start_us = F.unix_micros(F.col("_start.ts"))
    return segs.select(
        "user_id",
        "seg_id",
        "status",
        start_us.alias("valid_from_us"),
        F.lead(start_us).over(ws).alias("valid_to_us"),
        F.lead(start_us).over(ws).isNull().alias("is_current"),
        "n_events",
    )


#: key-bucket count for the partitioned snapshot layout; 64 keeps the
#: fixture demo readable — a real table sizes buckets so one bucket's
#: rewrite is a few files (e.g. 4096 buckets over 100 TB).
MERGE_N_BUCKETS = 64


def key_bucket(col: Column | str, n_buckets: int = MERGE_N_BUCKETS) -> Column:
    """Uniform deterministic key bucket: leading 4 hex chars of
    md5(key) mod n_buckets (md5 so the layout is engine-portable and
    skew-free regardless of key distribution)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % int(n_buckets)
    )


def land_snapshot(
    df: DataFrame,
    path: str,
    key: str = "o_orderkey",
    n_buckets: int = MERGE_N_BUCKETS,
) -> None:
    """Initial land of a MERGE-maintained snapshot: parquet partitioned
    by ``kb=`` (the md5 key bucket), so later merges can rewrite only
    the buckets a change batch touches. The layout parameters land
    beside the data (``_merge_meta.json``) — merges read them from the
    snapshot itself, so a caller can never merge with a different
    bucket count than the land used (which would write new ``kb=`` dirs
    without replacing the old rows' homes)."""
    import json

    df.withColumn("kb", key_bucket(key, n_buckets)).write.mode(
        "overwrite"
    ).partitionBy("kb").parquet(path)
    with open(os.path.join(path, "_merge_meta.json"), "w") as f:
        json.dump({"key": key, "n_buckets": int(n_buckets)}, f)


def _snapshot_meta(path: str) -> dict:
    import json

    with open(os.path.join(path, "_merge_meta.json")) as f:
        return json.load(f)


def merge_into_snapshot(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    seq: str = "seq",
    op: str = "op",
    broadcast_batch: bool | None = None,
) -> dict[str, int]:
    """Copy-on-write MERGE into a ``kb=``-partitioned snapshot — the
    plain-parquet shape of what Delta/Iceberg MERGE INTO does: collapse
    the change batch per key, compute the set of TOUCHED buckets, read
    only those partitions (partition-pruned scan), run :func:`cdc_merge`
    against just them, and swap exactly those directories back in via
    dynamic-partition-overwrite upsert. Untouched buckets' files are
    never read or rewritten, so per-batch cost scales with the batch's
    key spread, not the corpus. Buckets a delete empties are removed
    explicitly (a dynamic overwrite only replaces partitions PRESENT in
    the output — an emptied bucket would otherwise keep stale files).

    Key column and bucket count come from the snapshot's own
    ``_merge_meta.json`` (written by :func:`land_snapshot`), so a merge
    can never disagree with the landed layout.

    Returns ``{"touched_buckets": …, "rows_written": …}``.
    """
    import shutil

    from mapreducekmean_spark.sources.bucketing import upsert_partitions

    meta = _snapshot_meta(path)
    key, n_buckets = meta["key"], meta["n_buckets"]
    ch = changes.withColumn("kb", key_bucket(key, n_buckets))
    touched = sorted(
        r.kb for r in ch.select("kb").distinct().collect()
    )  # bounded: ≤ n_buckets driver rows
    snap = spark.read.parquet(path).filter(F.col("kb").isin(touched))
    merged = cdc_merge(
        snap.drop("kb"), ch.drop("kb"), key=key, seq=seq, op=op,
        broadcast_batch=broadcast_batch,
    ).withColumn("kb", key_bucket(key, n_buckets))
    # the row count rides the checkpoint's own materialization job as an
    # observe metric (optimization r15 — the separate merged.count() was
    # one more ~150 ms scheduling-floor job over materialized blocks)
    obs = Observation("cdc_merge_rows")
    merged = merged.observe(
        obs, F.count(F.lit(1)).alias("n")
    ).localCheckpoint()  # sever lineage from the files we
    # are about to replace (read-before-overwrite hazard)
    upsert_partitions(merged, path, "kb")
    present = {r.kb for r in merged.select("kb").distinct().collect()}
    for kb in touched:
        if kb not in present:
            shutil.rmtree(os.path.join(path, f"kb={kb}"), ignore_errors=True)
    return {
        "touched_buckets": len(touched),
        "rows_written": int(obs.get["n"]),
    }


def cdc_merge_stream_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    seq: str = "seq",
    op: str = "op",
) -> None:
    """One micro-batch of the streaming MERGE — the ``foreachBatch``
    body of ``streaming.jobs.stream_cdc_merge``, public so tests and
    batch backfills drive the same code path. It runs under
    :func:`_guarded_batch` (the replay contract, ``_cdc_high_water``
    marker): a crash mid-merge replays into a partially-updated
    snapshot, which is safe because re-merging the same collapsed
    batch is idempotent (same final row per key, same partitions
    rewritten). Cross-batch ordering needs no seq namespacing: batches
    apply sequentially, so a later batch's change wins by arriving
    later."""
    _guarded_batch(
        batch_df,
        batch_id,
        os.path.join(path, "_cdc_high_water"),
        lambda df: merge_into_snapshot(spark, df, path, seq=seq, op=op),
    )


def _read_high_water(marker: str) -> int:
    """Batch-id high-water mark, tolerant of absence and torn writes
    (both read as -1: 'nothing applied yet', the safe direction —
    re-applying an applied batch is idempotent, skipping an unapplied
    one would lose data)."""
    try:
        with open(marker) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return -1


def _advance_high_water(marker: str, batch_id: int) -> None:
    """Record ``batch_id`` as applied: temp file + ``os.replace``, atomic
    on POSIX, so a crash mid-write leaves the old marker, never a torn
    one."""
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(int(batch_id)))
    os.replace(tmp, marker)


def _guarded_batch(
    batch_df: DataFrame,
    batch_id: int,
    marker: str,
    apply: Callable[[DataFrame], object],
) -> None:
    """Run one ``foreachBatch`` body under the batch-id replay guard.
    This is the replay contract of every stream here that keeps durable
    state (the dedup, chunk and semantic ingests, the CDC merge and the
    maintained aggregates):

    1. Structured Streaming delivers micro-batches at least once: a
       restart re-delivers the batch in flight under the SAME id. The
       store keeps a high-water marker file, the last batch id applied,
       and a batch at or below it is a replay of a completed batch and
       no-ops.
    2. The batch materializes once (``localCheckpoint``), so the body's
       several actions read one snapshot of the source.
    3. A non-empty batch runs ``apply``; an empty one only advances the
       marker.
    4. The marker advances LAST, after ``apply`` returns, so a crash
       anywhere inside replays the batch. Every step of ``apply`` must
       therefore be idempotent on re-run: partition upserts replace,
       index appends carry content-checked guards, aggregate folds
       carry a per-key watermark.

    The marker write is atomic (:func:`_advance_high_water`) and a torn
    or absent marker reads as -1 (:func:`_read_high_water`): the worst
    case is one extra idempotent re-run, never a wedged stream. Batch
    ids are durable only with the runner's ``<store>/_checkpoint``
    (``streaming.jobs._drain``). Without it a restarted stream would
    restart ids at 0, read every batch of new data as a replay and
    silently no-op it; with it a restart resumes from the logged offset
    and replays at most the one in-flight batch."""
    if batch_id <= _read_high_water(marker):
        return
    batch_df = batch_df.localCheckpoint()
    if batch_df.take(1):
        apply(batch_df)
    _advance_high_water(marker, batch_id)


def land_agg_snapshot(
    df: DataFrame,
    path: str,
    key: str,
    sums: list[str],
    mins: list[str] = (),
    maxs: list[str] = (),
    n_buckets: int = MERGE_N_BUCKETS,
) -> None:
    """Initial land of an INCREMENTALLY MAINTAINED AGGREGATE — the
    materialized-view side of warehouse maintenance, next to the
    row-level :func:`land_snapshot`: instead of recomputing a huge
    GROUP BY per batch, the per-key mergeable state
    ``(key, n, Σ each sums col, last_bid)`` lands once, bucketed by the
    md5 key bucket (``kb=`` partition dirs), and each delta batch
    rewrites only the buckets its keys touch.

    ``last_bid`` is the per-KEY applied-batch watermark and the whole
    idempotence story: aggregate increments are not naturally
    idempotent the way row merges are, and a crash inside the
    dynamic-partition-overwrite commit can swap SOME touched buckets
    but not others — a batch-level marker alone would then double-count
    the swapped ones on replay. With the watermark IN the state, a
    replayed batch adds only to keys whose ``last_bid`` is below its
    id, so any partially-committed state converges to the same final
    rows (pinned in tests/test_cdc.py). The land carries bid 0.

    Besides additive ``sums`` (bigint, watermark-guarded adds), the
    state can carry ``mins``/``maxs`` columns — order-independent
    reductions that merge by ``least``/``greatest`` under the same
    per-key freshness guard (min/max re-application is naturally
    idempotent, but the shared guard keeps every column's replay story
    identical). That is exactly the mergeable state a per-dimension
    drift report needs (n, Σ scaled-int, min, max — see
    ``text.embedding_stats_land``).

    Layout parameters land beside the data (``_agg_meta.json``) — the
    :func:`land_snapshot` discipline."""
    import json

    agg = df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(c).cast("bigint").alias(c) for c in sums],
        *[F.min(c).alias(c) for c in mins],
        *[F.max(c).alias(c) for c in maxs],
    )
    (
        agg.withColumn("last_bid", F.lit(0).cast("bigint"))
        .withColumn("kb", key_bucket(key, n_buckets))
        .write.mode("overwrite")
        .partitionBy("kb")
        .parquet(path)
    )
    with open(os.path.join(path, "_agg_meta.json"), "w") as f:
        json.dump(
            {
                "key": key,
                "sums": list(sums),
                "mins": list(mins),
                "maxs": list(maxs),
                "n_buckets": int(n_buckets),
            },
            f,
        )


def apply_agg_delta(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    batch_id: int,
) -> dict[str, int]:
    """Fold one delta batch of RAW rows into the landed aggregate:
    partial-aggregate the batch per key (map-side combine absorbs any
    key skew before the one shuffle), compute the touched ``kb``
    buckets (bounded collect, ≤ n_buckets values), read ONLY those
    partition dirs, outer-merge per key under the ``last_bid``
    watermark (a key at or past ``batch_id`` keeps its landed row —
    the replay no-op), and swap exactly the touched directories back.

    Per-batch cost scales with the batch's key spread, never the
    aggregate's size; ``batch_id`` must increase across batches (the
    foreachBatch contract — :func:`agg_stream_batch` wires it).

    Replay is O(1), not just read-only (r14): an ``_agg_applied``
    batch-id marker (read and advanced like :func:`_guarded_batch`'s)
    advances only AFTER the fold commits, so an at-least-once
    re-delivery of an applied batch skips before even computing the
    batch's delta aggregate — at volume that aggregate is the
    expensive part of a replay. The
    marker is an optimization layered ON the per-key ``last_bid``
    watermark, never a substitute: a crash anywhere before the marker
    write (including mid-bucket-swap) leaves the marker behind, the
    replay takes the full merge, and the watermark makes it converge
    (pinned in tests/test_cdc.py). Under the foreachBatch contract a
    batch id always names the same content, which is what makes the
    skip sound.

    Returns ``{"touched_buckets": …, "rows_written": …}``."""
    import json

    from mapreducekmean_spark.sources.bucketing import upsert_partitions

    marker = os.path.join(path, "_agg_applied")
    if batch_id <= _read_high_water(marker):
        return {"touched_buckets": 0, "rows_written": 0}
    with open(os.path.join(path, "_agg_meta.json")) as f:
        meta = json.load(f)
    key, sums, n_buckets = meta["key"], meta["sums"], meta["n_buckets"]
    mins = meta.get("mins", [])
    maxs = meta.get("maxs", [])
    delta = (
        batch.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(c).cast("bigint").alias(c) for c in sums],
            *[F.min(c).alias(c) for c in mins],
            *[F.max(c).alias(c) for c in maxs],
        )
        .withColumn("kb", key_bucket(key, n_buckets))
        .localCheckpoint()
    )
    touched = sorted(
        r.kb for r in delta.select("kb").distinct().collect()
    )  # bounded: ≤ n_buckets driver rows
    landed = spark.read.parquet(path).filter(F.col("kb").isin(touched))
    # replay fast path: when EVERY delta key already sits at
    # last_bid >= batch_id, the merge below is the identity — skip the
    # touched-bucket rewrite entirely and make the replay READ-ONLY
    # (the r13 change: a crash-recovery or at-least-once re-delivery of
    # a fully-applied batch previously re-wrote every touched bucket
    # with byte-identical content). A PARTIALLY applied batch (some
    # keys below the watermark — the mid-swap crash case) fails this
    # probe and takes the full merge, which the per-key watermark
    # makes converge; pinned in tests/test_cdc.py.
    unapplied = delta.join(
        landed.filter(F.col("last_bid") >= int(batch_id)).select(key),
        on=key,
        how="left_anti",
    )
    if not unapplied.take(1):
        # fully applied but the marker lagged (e.g. crash after the
        # swap, before the marker write): advance it so the NEXT
        # replay is O(1) instead of re-probing.
        _advance_high_water(marker, batch_id)
        return {"touched_buckets": len(touched), "rows_written": 0}
    l = landed.alias("l")
    d = delta.alias("d")
    _obs_rows = Observation(f"agg_delta_rows_b{int(batch_id)}")
    bid = F.lit(int(batch_id)).cast("bigint")
    fresh = F.col("l.n").isNull() | (F.col("l.last_bid") < bid)
    merged = (
        l.join(d, on=(F.col(f"l.{key}") == F.col(f"d.{key}")), how="full")
        .select(
            F.coalesce(F.col(f"l.{key}"), F.col(f"d.{key}")).alias(key),
            (
                F.coalesce(F.col("l.n"), F.lit(0))
                + F.when(
                    fresh, F.coalesce(F.col("d.n"), F.lit(0))
                ).otherwise(F.lit(0))
            ).alias("n"),
            *[
                (
                    F.coalesce(F.col(f"l.{c}"), F.lit(0))
                    + F.when(
                        fresh, F.coalesce(F.col(f"d.{c}"), F.lit(0))
                    ).otherwise(F.lit(0))
                ).alias(c)
                for c in sums
            ],
            # min/max merge under the same freshness guard: a landed
            # key untouched by the batch (d null) or already at the
            # watermark keeps its state; a fresh delta folds by
            # least/greatest (null-safe via coalesce both ways).
            *[
                F.when(
                    fresh,
                    F.least(
                        F.coalesce(F.col(f"l.{c}"), F.col(f"d.{c}")),
                        F.coalesce(F.col(f"d.{c}"), F.col(f"l.{c}")),
                    ),
                )
                .otherwise(F.col(f"l.{c}"))
                .alias(c)
                for c in mins
            ],
            *[
                F.when(
                    fresh,
                    F.greatest(
                        F.coalesce(F.col(f"l.{c}"), F.col(f"d.{c}")),
                        F.coalesce(F.col(f"d.{c}"), F.col(f"l.{c}")),
                    ),
                )
                .otherwise(F.col(f"l.{c}"))
                .alias(c)
                for c in maxs
            ],
            F.when(
                fresh & F.col(f"d.{key}").isNotNull(), bid
            )
            .otherwise(F.coalesce(F.col("l.last_bid"), F.lit(0)))
            .cast("bigint")
            .alias("last_bid"),
        )
        .withColumn("kb", key_bucket(key, n_buckets))
        # sever lineage from the files the upsert replaces; the written-
        # row count rides this materialization job as an observe metric
        # (optimization r15 — the former merged.count() after the upsert
        # was one more ~150 ms scheduling-floor job)
        .observe(_obs_rows, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    upsert_partitions(merged, path, "kb")
    n_written = int(_obs_rows.get["n"])
    _advance_high_water(marker, batch_id)
    return {
        "touched_buckets": len(touched),
        "rows_written": n_written,
    }


def read_agg_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """The maintained aggregate, kb column dropped."""
    return spark.read.parquet(path).drop("kb")


def agg_stream_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    path: str,
) -> None:
    """``foreachBatch`` body for a STREAMED incremental aggregate, run
    under :func:`_guarded_batch` (the replay contract,
    ``_agg_high_water`` marker). The per-key ``last_bid`` watermark
    underneath covers the window the marker cannot: a crash after a
    PARTIAL bucket swap replays into mixed state and still converges,
    because already-updated keys sit at ``last_bid == batch_id`` and
    are not re-added. Streaming batch ids start at 0; the land owns
    bid 0, so the stream's ids are shifted by +1."""
    _guarded_batch(
        batch_df,
        batch_id,
        os.path.join(path, "_agg_high_water"),
        lambda df: apply_agg_delta(spark, df, path, batch_id=batch_id + 1),
    )


def purge_snapshot_keys(
    spark: SparkSession, path: str, keys: list
) -> dict[str, int]:
    """Delete keys from a ``kb=``-partitioned snapshot or maintained
    aggregate WITHOUT scanning it: the touched buckets are DERIVED —
    ``kb`` is a pure function of the key (:func:`key_bucket`), so the
    purge computes them driver-side and goes straight to the
    directories (zero discovery scans — cheaper than the vector-index
    purge, which must look its touched partitions up). The layout's
    own ``_merge_meta.json``/``_agg_meta.json`` supplies key column
    and bucket count. Pinned in tests/test_cdc.py: purged snapshot ==
    fresh land of the remaining rows (same layout params)."""
    import json
    import os

    from mapreducekmean_spark.sources.bucketing import purge_partition_keys

    meta_file = next(
        os.path.join(path, f)
        for f in ("_merge_meta.json", "_agg_meta.json")
        if os.path.exists(os.path.join(path, f))
    )
    with open(meta_file) as f:
        meta = json.load(f)
    key, n_buckets = meta["key"], meta["n_buckets"]
    keys = list(keys)
    kb_df = local_key_buckets(spark, keys, n_buckets)
    touched = sorted({r.kb for r in kb_df.collect()})
    return purge_partition_keys(
        spark, path, "kb", key, keys, touched=touched
    )


def local_key_buckets(
    spark: SparkSession, keys: list, n_buckets: int
) -> DataFrame:
    """md5 key buckets for a driver-local key list, computed by the
    SAME Spark expression the landed layout used (one tiny local
    relation — engine arithmetic, not a Python reimplementation, so
    the derived buckets can never drift from the written ones)."""
    from mapreducekmean_spark.session import local_rows_df

    ktype = "bigint" if all(isinstance(k, int) for k in keys) else "string"
    df = local_rows_df(spark, [(k,) for k in keys], f"k {ktype}")
    return df.select(key_bucket(F.col("k"), n_buckets).alias("kb"))
