"""CDC merge + SCD2 history: semantics on hand-built frames, fixture
invariants, and the no-base-shuffle plan property."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreducekmean_spark.operators import cdc
from mapreducekmean_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
)
from mapreducekmean_spark.sources import load_table


def test_cdc_merge_semantics_tiny(spark):
    """Hand-checkable MERGE: update, delete, insert, and a two-change
    key where the higher seq must win."""
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "k bigint, v bigint"
    )
    changes = spark.createDataFrame(
        [
            (2, 1, "U", 21),  # plain update
            (3, 1, "D", None),  # delete
            (5, 1, "I", 50),  # insert
            (4, 1, "U", 41),  # superseded by seq 2 …
            (4, 2, "U", 42),  # … which wins
        ],
        "k bigint, seq int, op string, v bigint",
    )
    got = {
        (r.k, r.v)
        for r in cdc.cdc_merge(base, changes, key="k").collect()
    }
    assert got == {(1, 10), (2, 21), (4, 42), (5, 50)}


def test_cdc_merge_delete_wins_when_last(spark):
    """A delete with the highest seq must remove the key even if an
    earlier change in the same batch upserted it."""
    base = spark.createDataFrame([(1, 10)], "k bigint, v bigint")
    changes = spark.createDataFrame(
        [(1, 1, "U", 11), (1, 2, "D", None)],
        "k bigint, seq int, op string, v bigint",
    )
    assert cdc.cdc_merge(base, changes, key="k").count() == 0


def test_cdc_merge_equal_seq_tie_is_deterministic(spark):
    """A feed that emits two changes for one key at the SAME seq must
    resolve by the documented struct order (seq, op, payload…): 'U'
    outranks 'D' (string order), and same-op ties fall through to the
    payload max. Run twice to pin run-to-run stability."""
    base = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    changes = spark.createDataFrame(
        [
            (1, 1, "U", 11),  # ties with the delete below …
            (1, 1, "D", None),  # … and loses: 'U' > 'D'
            (2, 1, "U", 21),  # same-op tie …
            (2, 1, "U", 22),  # … payload max wins
        ],
        "k bigint, seq int, op string, v bigint",
    )
    for _ in range(2):
        got = {
            (r.k, r.v)
            for r in cdc.cdc_merge(base, changes, key="k").collect()
        }
        assert got == {(1, 11), (2, 22)}


def test_orders_cdc_snapshot_invariants(spark, sf_small):
    orders = load_table(spark, sf_small, "orders")
    snap = cdc.orders_cdc_snapshot(orders).cache()
    base_keys = {r.o_orderkey for r in orders.select("o_orderkey").collect()}
    snap_rows = snap.collect()
    snap_keys = {r.o_orderkey for r in snap_rows}
    deleted = {k for k in base_keys if k % cdc.DELETE_MOD == 0}
    # insert offset is DERIVED (max base key), so inserted keys always
    # clear the base key range — no (key, seq) collision at any sf
    offset = max(base_keys)
    inserted = {
        k + offset
        for k in base_keys
        if k % cdc.INSERT_MOD == 0
        and k % cdc.UPDATE_MOD != 0
        and k % cdc.DELETE_MOD != 0
    }
    assert deleted and inserted  # fixture exercises every branch
    assert min(inserted) > max(base_keys)
    assert snap_keys == (base_keys - deleted) | inserted
    # updated keys carry the bumped price; second update wins on %21
    base_cents = {
        r.o_orderkey: r.c
        for r in orders.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("c"),
        ).collect()
    }
    by_key = {r.o_orderkey: r for r in snap_rows}
    for k in base_keys - deleted:
        if k % cdc.SECOND_UPDATE_MOD == 0:
            assert by_key[k].price_cents == base_cents[k] + cdc.SECOND_BUMP_CENTS
            assert by_key[k].o_orderstatus == "P"
        elif k % cdc.UPDATE_MOD == 0:
            assert by_key[k].price_cents == base_cents[k] + cdc.UPDATE_BUMP_CENTS
            assert by_key[k].o_orderstatus == "F"
        else:
            assert by_key[k].price_cents == base_cents[k]
    snap.unpersist()


def test_cdc_merge_never_shuffles_base(spark, sf_small):
    """The scale property: the snapshot side reaches its anti-join
    without an Exchange (the batch side broadcasts); no sort-merge
    join anywhere in the plan."""
    orders = load_table(spark, sf_small, "orders")
    df = cdc.orders_cdc_snapshot(orders)
    df.collect()  # let AQE finalize
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # the merge itself is shuffle-free (the batch's max-by-seq aggregate
    # ran once inside the localCheckpoint job; the snapshot scan feeds
    # the anti-join directly) — the ONLY exchange allowed is the
    # SinglePartition gather of the 1-row max-key aggregate that
    # derives the insert offset
    assert count_exchanges(df) <= 1
    assert "hashpartitioning" not in plan


def test_scd2_segments_tile_each_user(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    hist = cdc.scd2_history(ev).collect()
    per_user: dict[int, list] = {}
    for r in hist:
        per_user.setdefault(r.user_id, []).append(r)
    n_events = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    for uid, segs in per_user.items():
        segs.sort(key=lambda r: r.seg_id)
        assert [s.seg_id for s in segs] == list(range(1, len(segs) + 1))
        assert sum(s.n_events for s in segs) == n_events[uid]
        assert [s.is_current for s in segs] == [False] * (len(segs) - 1) + [
            True
        ]
        for a, b in zip(segs, segs[1:]):
            assert a.valid_to_us == b.valid_from_us
            assert a.status != b.status  # runs are maximal
        assert segs[-1].valid_to_us is None


def _snap_files(path):
    import os

    out = {}
    for d in os.listdir(path):
        if d.startswith("kb="):
            full = os.path.join(path, d)
            out[d] = sorted(
                (f, os.path.getmtime(os.path.join(full, f)))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
    return out


def test_merge_into_snapshot_equals_sequential_cdc_merge(spark, tmp_path):
    """Copy-on-write MERGE ground truth: landing a base then merging two
    batches through the partitioned snapshot yields exactly the rows of
    applying cdc_merge twice in memory — and buckets no batch touches
    keep their files byte-for-byte (same names, same mtimes)."""
    from mapreducekmean_spark.operators import cdc

    path = str(tmp_path / "snap")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    cdc.land_snapshot(base, path, key="k", n_buckets=16)
    b1 = spark.createDataFrame(
        [(5, 1, "U", 555), (7, 1, "D", None), (1000, 1, "I", 1)],
        "k bigint, seq int, op string, v bigint",
    )
    b2 = spark.createDataFrame(
        [(5, 1, "U", 556), (1000, 1, "D", None), (6, 1, "U", 66)],
        "k bigint, seq int, op string, v bigint",
    )
    before = _snap_files(path)
    touched = {
        r.kb
        for r in b1.unionByName(b2)
        .select(cdc.key_bucket("k", 16).alias("kb"))
        .distinct()
        .collect()
    }
    cdc.merge_into_snapshot(spark, b1, path)
    cdc.merge_into_snapshot(spark, b2, path)
    after = _snap_files(path)
    for d, files in before.items():
        if int(d.split("=")[1]) not in touched:
            assert after[d] == files  # untouched bucket: files untouched
    got = {
        (r.k, r.v)
        for r in spark.read.parquet(path).select("k", "v").collect()
    }
    want = {
        (r.k, r.v)
        for r in cdc.cdc_merge(
            cdc.cdc_merge(base, b1, key="k"), b2, key="k"
        ).collect()
    }
    assert got == want


def test_merge_into_snapshot_clears_emptied_bucket(spark, tmp_path):
    """A delete that empties a bucket must remove its directory —
    dynamic overwrite alone would leave the stale files in place."""
    import os

    from mapreducekmean_spark.operators import cdc

    path = str(tmp_path / "snap")
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    cdc.land_snapshot(base, path, key="k", n_buckets=4)
    # delete every key in key 1's bucket (other buckets keep rows)
    (b1,) = spark.range(1).select(cdc.key_bucket(F.lit(1), 4).alias("kb")).collect()
    keys_in_b1 = [
        r.k
        for r in base.select("k")
        .withColumn("kb", cdc.key_bucket("k", 4))
        .filter(F.col("kb") == b1.kb)
        .collect()
    ]
    assert keys_in_b1 and len(keys_in_b1) < 40
    changes = spark.createDataFrame(
        [(k, 1, "D", None) for k in keys_in_b1],
        "k bigint, seq int, op string, v bigint",
    )
    cdc.merge_into_snapshot(spark, changes, path)
    assert not os.path.exists(os.path.join(path, f"kb={b1.kb}"))
    left = {r.k for r in spark.read.parquet(path).select("k").collect()}
    assert left == set(range(40)) - set(keys_in_b1)


def test_cdc_stream_batch_replay_is_noop(spark, tmp_path):
    from mapreducekmean_spark.operators import cdc

    path = str(tmp_path / "snap")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    cdc.land_snapshot(base, path, key="k", n_buckets=4)
    b = spark.createDataFrame(
        [(1, 1, "U", 11)], "k bigint, seq int, op string, v bigint"
    )
    cdc.cdc_merge_stream_batch(spark, b, 0, path)
    snap1 = {
        (r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()
    }
    assert snap1 == {(1, 11), (2, 20)}
    # replay batch 0 with DIFFERENT content: must no-op (already applied)
    b_evil = spark.createDataFrame(
        [(2, 1, "D", None)], "k bigint, seq int, op string, v bigint"
    )
    cdc.cdc_merge_stream_batch(spark, b_evil, 0, path)
    snap2 = {
        (r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()
    }
    assert snap2 == snap1


def _torn_cdc_merge(spark, tmp_path, sf_small):
    path = str(tmp_path / "snap")
    base = spark.createDataFrame([(1, 10), (2, 20)], "k bigint, v bigint")
    cdc.land_snapshot(base, path, key="k", n_buckets=4)
    b = spark.createDataFrame(
        [(1, 1, "U", 11)], "k bigint, seq int, op string, v bigint"
    )

    def applied():
        got = spark.read.parquet(path).select("k", "v").collect()
        return {(r.k, r.v) for r in got} == {(1, 11), (2, 20)}

    return (
        lambda df, bid: cdc.cdc_merge_stream_batch(spark, df, bid, path),
        b,
        os.path.join(path, "_cdc_high_water"),
        applied,
    )


def _torn_agg(spark, tmp_path, sf_small):
    path = str(tmp_path / "agg")
    base = spark.createDataFrame([(1, 5), (2, 7)], "k bigint, c bigint")
    cdc.land_agg_snapshot(base, path, key="k", sums=["c"], n_buckets=4)
    b = spark.createDataFrame([(1, 3), (3, 4)], "k bigint, c bigint")

    def applied():
        got = cdc.read_agg_snapshot(spark, path).collect()
        return {(r.k, r.n, r.c) for r in got} == {
            (1, 2, 8), (2, 1, 7), (3, 1, 4)
        }

    return (
        lambda df, bid: cdc.agg_stream_batch(spark, df, bid, path),
        b,
        os.path.join(path, "_agg_high_water"),
        applied,
    )


def _torn_docs_ingest(body: str, marker: str):
    """Torn-marker case for a document ingest body of streaming.jobs."""

    def setup(spark, tmp_path, sf_small):
        from mapreducekmean_spark.operators.text import documents
        from mapreducekmean_spark.streaming import jobs

        idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
        return (
            lambda df, bid: getattr(jobs, body)(
                spark, df, bid, f"t_torn_{body}", idx, out
            ),
            documents(spark, sf_small).orderBy("doc_id").limit(30),
            os.path.join(idx, marker),
            lambda: spark.read.parquet(out).count() > 0,
        )

    return setup


def _torn_semantic_dedup(spark, tmp_path, sf_small):
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.streaming.jobs import semantic_dedup_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    pts = km.embeddings(spark, sf_small).select("vec_id", "emb")
    return (
        lambda df, bid: semantic_dedup_batch(
            spark, df, bid, idx, out, ncells=2
        ),
        pts.orderBy("vec_id").limit(40),
        os.path.join(idx, "_semdedup_high_water"),
        lambda: spark.read.parquet(out).count() == 40,
    )


_TORN_MARKER_BODIES = {
    "cdc_merge": _torn_cdc_merge,
    "agg": _torn_agg,
    "ingest_dedup": _torn_docs_ingest(
        "ingest_dedup_batch", "_ingest_high_water"
    ),
    "chunk_ingest": _torn_docs_ingest(
        "chunk_ingest_batch", "_chunk_ingest_high_water"
    ),
    "semantic_dedup": _torn_semantic_dedup,
}


@pytest.mark.parametrize("body", list(_TORN_MARKER_BODIES))
def test_stream_batch_tolerates_torn_marker(spark, sf_small, tmp_path, body):
    """Every foreachBatch body that keeps a batch-id marker: a torn/empty
    marker (crash mid-write in an old version; the write is atomic now)
    must read as ABSENT — the batch applies instead of every
    micro-batch raising — and the marker recovers to the batch id. An
    empty batch advances the marker to its id too."""
    run, batch, marker, applied = _TORN_MARKER_BODIES[body](
        spark, tmp_path, sf_small
    )
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        f.write("")  # torn write: empty marker
    run(batch, 0)
    assert applied()
    with open(marker) as f:
        assert f.read() == "0"  # marker recovered atomically
    run(batch.limit(0), 1)
    assert applied()
    with open(marker) as f:
        assert f.read() == "1"


def test_stream_cdc_merge_end_to_end(spark, tmp_path):
    """Drive the streaming MERGE through a real rate-less file stream:
    two change files arrive, the snapshot converges to the sequential
    in-memory merge result."""
    import json
    import os

    from mapreducekmean_spark.operators import cdc
    from mapreducekmean_spark.streaming.jobs import stream_cdc_merge

    path = str(tmp_path / "snap")
    src = tmp_path / "changes"
    src.mkdir()
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    cdc.land_snapshot(base, path, key="k", n_buckets=8)
    rows = [
        {"k": 3, "seq": 1, "op": "U", "v": 33},
        {"k": 4, "seq": 1, "op": "D", "v": None},
        {"k": 900, "seq": 1, "op": "I", "v": 9},
    ]
    with open(src / "b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("k bigint, seq int, op string, v bigint")
        .json(str(src))
    )
    stream_cdc_merge(stream, path)
    got = {
        (r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()
    }
    b1 = spark.createDataFrame(
        [(3, 1, "U", 33), (4, 1, "D", None), (900, 1, "I", 9)],
        "k bigint, seq int, op string, v bigint",
    )
    want = {(r.k, r.v) for r in cdc.cdc_merge(base, b1, key="k").collect()}
    assert got == want
    # second stream run with one more file: resumes from the checkpoint
    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"k": 900, "seq": 1, "op": "U", "v": 10}))
    stream2 = (
        spark.readStream.schema("k bigint, seq int, op string, v bigint")
        .json(str(src))
    )
    stream_cdc_merge(stream2, path)
    got2 = {
        (r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()
    }
    b2 = spark.createDataFrame(
        [(900, 1, "U", 10)], "k bigint, seq int, op string, v bigint"
    )
    want2 = {
        (r.k, r.v)
        for r in cdc.cdc_merge(
            cdc.cdc_merge(base, b1, key="k"), b2, key="k"
        ).collect()
    }
    assert got2 == want2
    assert os.path.exists(os.path.join(path, "_cdc_high_water"))


def test_merge_into_snapshot_is_idempotent(spark, tmp_path):
    """The crash-replay safety argument, pinned: applying the SAME
    change batch twice leaves the snapshot exactly as one application
    does (a replay after a crash between merge and high-water write is
    a re-merge of an already-applied batch)."""
    from mapreducekmean_spark.operators import cdc

    path = str(tmp_path / "snap")
    base = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    cdc.land_snapshot(base, path, key="k", n_buckets=8)
    b = spark.createDataFrame(
        [(5, 1, "U", 55), (6, 1, "D", None), (500, 1, "I", 5)],
        "k bigint, seq int, op string, v bigint",
    )
    cdc.merge_into_snapshot(spark, b, path)
    once = sorted(
        (r.k, r.v)
        for r in spark.read.parquet(path).select("k", "v").collect()
    )
    cdc.merge_into_snapshot(spark, b, path)
    twice = sorted(
        (r.k, r.v)
        for r in spark.read.parquet(path).select("k", "v").collect()
    )
    assert once == twice


def test_stream_cdc_merge_killed_midstream_restarts_from_checkpoint(
    spark, tmp_path
):
    """The real restart contract: a CHECKPOINTED streaming MERGE is
    killed mid-stream in the harshest window — batch 1's snapshot
    merge has completed but neither the high-water marker nor the
    checkpoint commit were written — then restarted from the same
    checkpoint with the production runner. Structured Streaming
    replays the uncommitted batch under the same batch id, the marker
    says it never applied, and the re-merge is idempotent: the final
    snapshot is row-identical to an uninterrupted sequential merge
    (the batch cdc_merge composition), and the marker converges."""
    import json
    import os

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from mapreducekmean_spark.streaming.jobs import stream_cdc_merge

    path = str(tmp_path / "snap")
    src = tmp_path / "changes"
    src.mkdir()
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    cdc.land_snapshot(base, path, key="k", n_buckets=8)
    rows1 = [
        {"k": 3, "seq": 1, "op": "U", "v": 33},
        {"k": 4, "seq": 1, "op": "D", "v": None},
        {"k": 900, "seq": 1, "op": "I", "v": 9},
    ]
    rows2 = [
        {"k": 900, "seq": 1, "op": "U", "v": 10},
        {"k": 7, "seq": 1, "op": "D", "v": None},
    ]
    with open(src / "b1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows1))
    with open(src / "b2.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows2))
    # distinct mtimes pin the file→batch order (b1 = batch 0)
    os.utime(src / "b1.json", (1_000_000, 1_000_000))
    os.utime(src / "b2.json", (1_000_100, 1_000_100))
    schema = "k bigint, seq int, op string, v bigint"

    crashed = {}

    def crash_before_commit(df, bid):
        if bid >= 1 and not crashed:
            # replicate the batch body UP TO the crash point: the merge
            # lands, the marker write never happens, the checkpoint
            # commit never happens
            df = df.localCheckpoint()
            if df.take(1):
                cdc.merge_into_snapshot(spark, df, path)
            crashed["at"] = bid
            raise RuntimeError("injected crash before marker commit")
        cdc.cdc_merge_stream_batch(spark, df, bid, path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", os.path.join(path, "_checkpoint"))
        .foreachBatch(crash_before_commit)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.processAllAvailable()
    q.stop()
    assert crashed["at"] == 1  # died mid-stream, after batch 0 committed
    with open(os.path.join(path, "_cdc_high_water")) as f:
        assert int(f.read()) == 0  # marker never saw batch 1

    # restart with the PRODUCTION runner on the same checkpoint
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    stream_cdc_merge(stream2, path)

    got = {
        (r.k, r.v)
        for r in spark.read.parquet(path).select("k", "v").collect()
    }
    b1 = spark.createDataFrame(
        [(3, 1, "U", 33), (4, 1, "D", None), (900, 1, "I", 9)],
        schema,
    )
    b2 = spark.createDataFrame(
        [(900, 1, "U", 10), (7, 1, "D", None)], schema
    )
    want = {
        (r.k, r.v)
        for r in cdc.cdc_merge(
            cdc.cdc_merge(base, b1, key="k"), b2, key="k"
        ).collect()
    }
    assert got == want
    with open(os.path.join(path, "_cdc_high_water")) as f:
        assert int(f.read()) == 1  # marker converged past the replay


def _agg_rows(spark, path):
    from mapreducekmean_spark.operators.cdc import read_agg_snapshot

    return sorted(tuple(r) for r in read_agg_snapshot(spark, path).collect())


def test_agg_delta_equals_one_shot_group_by(spark, tmp_path):
    """Land low keys, fold two delta batches: the maintained state must
    equal the one-shot GROUP BY over the union, with last_bid the
    per-key applied-batch watermark."""
    from mapreducekmean_spark.operators.cdc import (
        apply_agg_delta,
        land_agg_snapshot,
    )

    rows = spark.range(300).select(
        (F.col("id") % 40).alias("k"),
        (F.col("id") * 3).alias("v"),
        F.col("id").alias("seq_id"),
    )
    path = str(tmp_path / "agg")
    land_agg_snapshot(
        rows.filter(F.col("seq_id") < 100).drop("seq_id"),
        path, key="k", sums=["v"],
    )
    apply_agg_delta(
        spark,
        rows.filter((F.col("seq_id") >= 100) & (F.col("seq_id") < 200))
        .drop("seq_id"),
        path, batch_id=1,
    )
    apply_agg_delta(
        spark, rows.filter(F.col("seq_id") >= 200).drop("seq_id"),
        path, batch_id=2,
    )
    want = sorted(
        (r.k, r.n, r.v, 2)
        for r in rows.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("v"))
        .collect()
    )  # every key appears in every batch third (id % 40 cycles)
    assert _agg_rows(spark, path) == want


def test_agg_delta_replay_and_partial_commit_converge(spark, tmp_path):
    """The two replay windows: re-applying a completed batch is a
    per-key no-op, and a PARTIALLY committed batch (only one touched
    bucket's keys swapped — the crash window a batch marker alone
    cannot cover) converges to the full-apply state on replay instead
    of double-counting the swapped keys."""
    from mapreducekmean_spark.operators.cdc import (
        apply_agg_delta,
        land_agg_snapshot,
    )

    rows = spark.range(200).select(
        (F.col("id") % 23).alias("k"), F.lit(1).alias("v"),
        F.col("id").alias("seq_id"),
    )
    base = rows.filter(F.col("seq_id") < 100).drop("seq_id")
    delta = rows.filter(F.col("seq_id") >= 100).drop("seq_id")
    path = str(tmp_path / "agg")
    land_agg_snapshot(base, path, key="k", sums=["v"])
    apply_agg_delta(spark, delta, path, batch_id=1)
    once = _agg_rows(spark, path)
    apply_agg_delta(spark, delta, path, batch_id=1)  # straight replay
    assert _agg_rows(spark, path) == once

    # partial-commit simulation: fresh state, apply batch 1 for the
    # keys of ONE bucket only (what a crash mid-swap leaves), then
    # replay the WHOLE batch
    from mapreducekmean_spark.operators.cdc import key_bucket

    path2 = str(tmp_path / "agg2")
    land_agg_snapshot(base, path2, key="k", sums=["v"])
    one_kb = delta.select(
        key_bucket("k").alias("kb")
    ).distinct().take(1)[0]["kb"]
    apply_agg_delta(
        spark, delta.filter(key_bucket("k") == one_kb), path2, batch_id=1
    )
    # a crash mid-swap never reaches the r14 _agg_applied marker
    # write — remove the marker the completed partial call wrote so
    # the replay exercises the per-key watermark, not the skip
    import os

    os.remove(os.path.join(path2, "_agg_applied"))
    apply_agg_delta(spark, delta, path2, batch_id=1)
    assert _agg_rows(spark, path2) == once


def test_stream_agg_maintenance_end_to_end(spark, tmp_path):
    """Two raw-row files through the checkpointed streaming runner:
    the maintained aggregate equals the one-shot GROUP BY, and a second
    run with a third file resumes from the checkpoint."""
    import json

    from mapreducekmean_spark.operators.cdc import land_agg_snapshot
    from mapreducekmean_spark.streaming.jobs import stream_agg_maintenance

    path = str(tmp_path / "agg")
    src = tmp_path / "rows"
    src.mkdir()
    base = spark.createDataFrame(
        [(k, 10) for k in range(8)], "k bigint, v bigint"
    )
    land_agg_snapshot(base, path, key="k", sums=["v"])
    with open(src / "b1.json", "w") as f:
        f.write("\n".join(json.dumps({"k": k % 5, "v": 1}) for k in range(10)))
    stream = spark.readStream.schema("k bigint, v bigint").json(str(src))
    stream_agg_maintenance(stream, path)
    got = {r[0]: (r[1], r[2]) for r in _agg_rows(spark, path)}
    # keys 0-4: one base row (v 10) + two stream rows (v 1 each)
    assert all(got[k] == (3, 12) for k in range(5))
    assert all(got[k] == (1, 10) for k in range(5, 8))

    with open(src / "b2.json", "w") as f:
        f.write(json.dumps({"k": 7, "v": 5}))
    stream2 = spark.readStream.schema("k bigint, v bigint").json(str(src))
    stream_agg_maintenance(stream2, path)
    got2 = {r[0]: (r[1], r[2]) for r in _agg_rows(spark, path)}
    assert got2[7] == (2, 15)
    assert got2[0] == (3, 12)


def test_purge_snapshot_keys_equals_fresh_land(spark, tmp_path):
    """Purging keys from the kb=-partitioned snapshot derives its
    touched buckets from the keys alone (zero discovery scans) and
    leaves exactly the state a fresh land of the remaining rows
    writes."""
    from mapreducekmean_spark.operators.cdc import (
        land_snapshot,
        purge_snapshot_keys,
    )

    rows = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    path = str(tmp_path / "snap")
    land_snapshot(rows, path, key="k", n_buckets=16)
    doomed = [3, 77, 240, 241, 499]
    stats = purge_snapshot_keys(spark, path, doomed)
    assert stats["rows_deleted"] == 5
    assert stats["touched_partitions"] <= 5
    got = sorted(
        (r.k, r.v)
        for r in spark.read.parquet(path).select("k", "v").collect()
    )
    path2 = str(tmp_path / "snap2")
    land_snapshot(
        rows.filter(~F.col("k").isin(doomed)), path2, key="k",
        n_buckets=16,
    )
    want = sorted(
        (r.k, r.v)
        for r in spark.read.parquet(path2).select("k", "v").collect()
    )
    assert got == want and len(got) == 495


def test_cdc_merge_mixed_null_tie_prefers_non_null(spark):
    """Same-(seq,op) ties whose payloads differ in null-ness resolve by
    the (IS NOT NULL, value) pair ordering: non-null beats null on
    every payload field — the rule both engines replay identically
    (Spark sorts struct NULL fields first, DuckDB's max treats NULLs
    as greatest; the boolean flag sidesteps both)."""
    base = spark.createDataFrame([(9, 0)], "k bigint, v bigint")
    changes = spark.createDataFrame(
        [
            (1, 1, "U", None),  # same (seq, op), null payload …
            (1, 1, "U", 5),  # … loses to the non-null row
            (2, 1, "U", None),  # all-null payload ties …
            (2, 1, "U", None),  # … collapse to one identical row
        ],
        "k bigint, seq int, op string, v bigint",
    )
    for _ in range(2):
        got = {
            (r.k, r.v)
            for r in cdc.cdc_merge(base, changes, key="k").collect()
        }
        assert got == {(9, 0), (1, 5), (2, None)}


def test_purge_partition_keys_keeps_null_ids_and_counts_real_dirs(
    spark, tmp_path
):
    """~isin(ids) is NULL (not TRUE) for a NULL id — the purge must
    keep such rows explicitly, and removed_dirs must count only cell
    directories that actually existed (a caller-supplied touched value
    with no directory must not inflate it)."""
    import os

    from mapreducekmean_spark.sources.bucketing import (
        purge_partition_keys,
        write_partitioned,
    )

    rows = spark.createDataFrame(
        [(1, 0), (2, 0), (None, 0), (3, 1), (None, 1)],
        "id bigint, cell int",
    )
    path = str(tmp_path / "idx")
    write_partitioned(rows, path, "cell")
    stats = purge_partition_keys(
        spark, path, part_col="cell", id_col="id", ids=[1, 2, 3],
        touched=[0, 1, 7],  # 7 has no directory
    )
    assert stats["rows_deleted"] == 3
    assert stats["removed_dirs"] == 0  # NULL-id rows keep both dirs alive
    left = sorted(
        (r.id, r.cell)
        for r in spark.read.parquet(path).collect()
    )
    assert left == [(None, 0), (None, 1)]
    assert os.path.isdir(os.path.join(path, "cell=0"))


def test_stream_host_stats_maintenance_end_to_end(spark, tmp_path):
    """The daily report as a continuous ingest: land the snapshot on a
    first slice of documents, stream two more slices as micro-batch
    files, and the report off the maintained snapshot must equal the
    one-shot host_stats over everything; a second stream run with a
    third file resumes from the checkpoint without double-counting."""
    from mapreducekmean_spark.operators.text import (
        host_stats,
        host_stats_from_snapshot,
        host_stats_land,
    )
    from mapreducekmean_spark.streaming.jobs import (
        stream_host_stats_maintenance,
    )

    rows = [
        (i, f"src_{i % 3}", f"body text alpha beta gamma doc {i % 7}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, source string, text string"
    )
    path = str(tmp_path / "hsnap")
    host_stats_land(docs.filter("doc_id < 20"), path)

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id bigint, source string, text string"
    for lo, hi, name in ((20, 40, "b1"), (40, 55, "b2")):
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(
            1
        ).write.json(str(src / name))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(src / "*"))
    stream_host_stats_maintenance(stream, path)

    def report(df):
        return sorted(tuple(r) for r in df.collect())

    assert report(host_stats_from_snapshot(spark, path)) == report(
        host_stats(docs.filter("doc_id < 55"))
    )

    docs.filter("doc_id >= 55").coalesce(1).write.json(str(src / "b3"))
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(src / "*"))
    stream_host_stats_maintenance(stream2, path)
    assert report(host_stats_from_snapshot(spark, path)) == report(
        host_stats(docs)
    )


def test_agg_delta_full_replay_is_read_only(spark, tmp_path):
    """Replaying a FULLY applied batch must not rewrite a single
    snapshot file (rows_written 0, every parquet file byte-for-byte
    untouched by path+mtime+size) — the r13 fast path; a PARTIALLY
    applied batch must still take the full merge and rewrite."""
    import os

    from mapreducekmean_spark.operators.cdc import (
        apply_agg_delta,
        key_bucket,
        land_agg_snapshot,
    )

    rows = spark.range(200).select(
        (F.col("id") % 23).alias("k"), F.lit(1).alias("v"),
        F.col("id").alias("seq_id"),
    )
    base = rows.filter(F.col("seq_id") < 100).drop("seq_id")
    delta = rows.filter(F.col("seq_id") >= 100).drop("seq_id")
    path = str(tmp_path / "agg")
    land_agg_snapshot(base, path, key="k", sums=["v"])
    first = apply_agg_delta(spark, delta, path, batch_id=1)
    assert first["rows_written"] > 0

    def file_state():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = file_state()
    once = _agg_rows(spark, path)
    replay = apply_agg_delta(spark, delta, path, batch_id=1)
    assert replay["rows_written"] == 0
    assert file_state() == before
    assert _agg_rows(spark, path) == once

    # a partial application (one bucket's keys already at the
    # watermark, marker NOT yet advanced — the mid-commit crash
    # window: the r14 _agg_applied marker is written only after the
    # fold completes, so a crash leaves it behind) must NOT take
    # either fast path: delete the marker the completed partial call
    # wrote to simulate the crash, then the full replay must merge
    # and converge under the per-key watermark.
    path2 = str(tmp_path / "agg2")
    land_agg_snapshot(base, path2, key="k", sums=["v"])
    one_kb = delta.select(
        key_bucket("k").alias("kb")
    ).distinct().take(1)[0]["kb"]
    apply_agg_delta(
        spark, delta.filter(key_bucket("k") == one_kb), path2, batch_id=1
    )
    os.remove(os.path.join(path2, "_agg_applied"))  # crash before marker
    full = apply_agg_delta(spark, delta, path2, batch_id=1)
    assert full["rows_written"] > 0
    assert _agg_rows(spark, path2) == once


def test_agg_delta_marker_makes_replay_o1(spark, tmp_path):
    """The r14 batch-id marker: replaying a fully applied batch skips
    BEFORE computing the batch's delta aggregate (touched_buckets 0 —
    the read-only probe path reports the real touched count, the
    marker path reports zero work), and a marker deleted after a
    completed fold (the crash-after-swap window) falls back to the
    read-only probe, which re-advances it so the NEXT replay is O(1)
    again."""
    import os

    from mapreducekmean_spark.operators.cdc import (
        apply_agg_delta,
        land_agg_snapshot,
    )

    rows = spark.range(100).select(
        (F.col("id") % 11).alias("k"), F.lit(1).alias("v")
    )
    path = str(tmp_path / "agg")
    land_agg_snapshot(rows, path, key="k", sums=["v"])
    first = apply_agg_delta(spark, rows, path, batch_id=1)
    assert first["rows_written"] > 0
    # marker skip: zero touched buckets reported
    assert apply_agg_delta(spark, rows, path, batch_id=1) == {
        "touched_buckets": 0,
        "rows_written": 0,
    }
    # crash-after-swap: marker gone, probe path finds nothing fresh,
    # re-advances the marker
    os.remove(os.path.join(path, "_agg_applied"))
    probe = apply_agg_delta(spark, rows, path, batch_id=1)
    assert probe["rows_written"] == 0 and probe["touched_buckets"] > 0
    assert os.path.exists(os.path.join(path, "_agg_applied"))
    assert apply_agg_delta(spark, rows, path, batch_id=1) == {
        "touched_buckets": 0,
        "rows_written": 0,
    }


def test_stream_quality_deciles_maintenance_end_to_end(spark, tmp_path):
    """The decile calibration as a continuous ingest (r13 verdict item
    #7): land the q_int level snapshot on a first slice, stream two
    more slices as micro-batch files, and the report off the
    maintained snapshot must equal the one-shot quality_deciles over
    everything; a second stream run with a third file resumes from the
    checkpoint without double-counting."""
    from mapreducekmean_spark.operators.text import (
        quality_deciles,
        quality_deciles_from_snapshot,
        quality_deciles_land,
    )
    from mapreducekmean_spark.streaming.jobs import (
        stream_quality_deciles_maintenance,
    )

    rows = [
        (
            i,
            "the quick brown fox jumps over lazy dogs near banks of "
            + " ".join(f"w{j}" for j in range(i % 9)),
        )
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    path = str(tmp_path / "qsnap")
    quality_deciles_land(docs.filter("doc_id < 20"), path)

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id bigint, text string"
    for lo, hi, name in ((20, 40, "b1"), (40, 55, "b2")):
        docs.filter(f"doc_id >= {lo} and doc_id < {hi}").coalesce(
            1
        ).write.json(str(src / name))
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(src / "*"))
    stream_quality_deciles_maintenance(stream, path)

    def report(df):
        return sorted(tuple(r) for r in df.collect())

    assert report(quality_deciles_from_snapshot(spark, path)) == report(
        quality_deciles(docs.filter("doc_id < 55"))
    )

    docs.filter("doc_id >= 55").coalesce(1).write.json(str(src / "b3"))
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(src / "*"))
    stream_quality_deciles_maintenance(stream2, path)
    assert report(quality_deciles_from_snapshot(spark, path)) == report(
        quality_deciles(docs)
    )


def test_stream_seqlen_and_embedding_maintenance(spark, tmp_path):
    """The remaining two maintained reports as continuous ingests:
    the (source, bucket) histogram over a document file stream and
    the per-dim drift snapshot over an embedding file stream — both
    reports must equal their one-shots after the stream drains
    (min/max folding through agg_stream_batch included)."""
    from mapreducekmean_spark.operators.text import (
        embedding_stats,
        embedding_stats_from_snapshot,
        embedding_stats_land,
        seq_len_histogram,
        seq_len_histogram_from_snapshot,
        seq_len_histogram_land,
    )
    from mapreducekmean_spark.streaming.jobs import (
        stream_embedding_stats_maintenance,
        stream_seq_len_histogram_maintenance,
    )

    def report(df):
        return sorted(tuple(r) for r in df.collect())

    docs = spark.createDataFrame(
        [
            (i, f"s{i % 2}", "tok " * (1 + i % 17))
            for i in range(40)
        ],
        "doc_id bigint, source string, text string",
    )
    s_path = str(tmp_path / "slsnap")
    seq_len_histogram_land(docs.filter("doc_id < 15"), s_path)
    src = tmp_path / "docs"
    src.mkdir()
    docs.filter("doc_id >= 15").coalesce(1).write.json(str(src / "b1"))
    stream = spark.readStream.schema(
        "doc_id bigint, source string, text string"
    ).json(str(src / "*"))
    stream_seq_len_histogram_maintenance(stream, s_path)
    assert report(
        seq_len_histogram_from_snapshot(spark, s_path)
    ) == report(seq_len_histogram(docs))

    embs = spark.createDataFrame(
        [
            (i, [float(i % 7) - 3.0, float(i % 5) / 2.0, -float(i % 3)])
            for i in range(40)
        ],
        "vec_id bigint, embedding array<double>",
    )
    e_path = str(tmp_path / "esnap")
    embedding_stats_land(embs.filter("vec_id < 15"), e_path)
    esrc = tmp_path / "embs"
    esrc.mkdir()
    embs.filter("vec_id >= 15").coalesce(1).write.json(str(esrc / "b1"))
    estream = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).json(str(esrc / "*"))
    stream_embedding_stats_maintenance(estream, e_path)
    assert report(
        embedding_stats_from_snapshot(spark, e_path)
    ) == report(embedding_stats(embs))
