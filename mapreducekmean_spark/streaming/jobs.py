"""Streaming jobs: sources, stateless and stateful stream transforms,
driver-side running models, and the runners that drain them."""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreducekmean_spark.functions.vector import as_double_array
from mapreducekmean_spark.operators.cdc import _guarded_batch
from mapreducekmean_spark.operators.events import SESSION_GAP_US
from mapreducekmean_spark.operators.kmeans import (
    assign,
)
from mapreducekmean_spark.sources import load_table


def _stage_stream_dir(sf_dir: str, table: str) -> str:
    """Spark's file stream source consumes *directories* (new files appear,
    get picked up per micro-batch). The fixtures are single files, so stage
    a per-table directory of symlinks under /tmp — in production this is
    simply the landing directory the upstream writer appends to."""
    import tempfile

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    d = os.path.join(
        tempfile.gettempdir(),
        "mrkm_stream",
        src.strip("/").replace("/", "_"),
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def read_points_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (schema taken from a
    batch read — streaming sources need an explicit schema)."""
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .parquet(_stage_stream_dir(sf_dir, "embeddings"))
        .where(F.col("vec_id").isNotNull())
    )
    return raw.select("vec_id", as_double_array("embedding").alias("emb"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with the same timestamp
    normalization as the batch loader (nanos-as-bigint → micros, or
    NTZ → UTC instant — see ``sources/readers.py``)."""
    batch = load_table(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = spark.readStream.schema(raw_schema).parquet(
        _stage_stream_dir(sf_dir, "events")
    )
    raw = normalize_event_ts(raw)
    return raw.select(*batch.columns)


def normalize_event_ts(raw: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column across fixture generations exactly
    like the batch loader: bigint nanos → floored micros TimestampType;
    TIMESTAMP_NTZ → TimestampType at UTC (watermarks and ``unix_micros``
    both require an instant type). ``to_utc_timestamp(col, 'UTC')`` is
    session-timezone-independent, so streamed epochs match the batch
    loader's on any session."""
    dtype = dict(raw.dtypes).get(col)
    if dtype == "bigint":
        return raw.withColumn(
            col,
            F.timestamp_micros(F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")),
        )
    if dtype == "timestamp_ntz":
        return raw.withColumn(col, F.to_utc_timestamp(F.col(col), "UTC"))
    return raw


def _drain(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    store: str | None = None,
    **start,
) -> None:
    """Run a stream until its available input is consumed, then stop it:
    the synchronous local-harness form of every runner here (production
    leaves the query running). ``batch_fn`` is the ``foreachBatch``
    body. ``store`` is the durable state directory of a body under the
    replay guard; its ``<store>/_checkpoint`` keeps batch ids monotone
    across driver restarts (:func:`operators.cdc._guarded_batch`).
    ``start`` goes to ``DataStreamWriter.start`` (sink format, path,
    query name, options); the output mode defaults to update."""
    w = stream_df.writeStream
    if store is not None:
        w = w.option("checkpointLocation", os.path.join(store, "_checkpoint"))
    if batch_fn is not None:
        w = w.foreachBatch(batch_fn)
    q = w.start(**{"outputMode": "update", **start})
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def stream_assign(
    points_stream: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """Streaming model scoring: the same nearest-centroid Arrow UDF as
    the batch path (``KMeansModel.transform`` analogue) — stateless, so
    it runs identically per micro-batch."""
    return assign(points_stream, centroids).select("vec_id", "cluster_id")


def stream_hourly_counts(events_stream: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation: 1-hour windows per event
    type, tolerating 30 minutes of late data."""
    return (
        events_stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_seconds(F.col("w.start")).alias("hour_start_s"),
            "event_type",
            "n",
            F.round("sum_value", 6).alias("sum_value"),
        )
    )


_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, n_events bigint, duration_us bigint"
)
_SESSION_STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"


def _session_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Per-user session accumulator: emits a session row whenever a gap
    > SESSION_GAP_US closes one; the open session persists in state
    across micro-batches (the applyInPandasWithState custom-operator
    surface; logic mirrors the batch lag+cumsum operator)."""
    (user_id,) = key
    times: list[int] = []
    for pdf in pdfs:
        times.extend(int(v) for v in pdf["us"])
    times.sort()
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = -1
        n = 0
    out = []
    for us in times:
        if start_us < 0:
            start_us = last_us = us
            n = 1
            continue
        if us - last_us > SESSION_GAP_US:
            out.append((user_id, start_us, n, last_us - start_us))
            start_us = last_us = us
            n = 1
        else:
            last_us = us
            n += 1
    state.update((start_us, last_us, n))
    yield pd.DataFrame(
        out, columns=["user_id", "session_start_us", "n_events", "duration_us"]
    )


def stream_sessionize(events_stream: DataFrame) -> DataFrame:
    """Stateful streaming sessionization via ``applyInPandasWithState``:
    closed sessions are appended as they are detected; the open session
    per user lives in the state store."""
    from mapreducekmean_spark.shipping import ship_package

    ship_package(events_stream.sparkSession)  # _session_fn pickles by ref
    with_us = events_stream.select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _session_fn,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_view_purchase_join(
    events_stream: DataFrame, within_minutes: int = 30
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to a preceding
    view by the same user within ``within_minutes``. Both sides carry
    event-time watermarks and the join condition bounds the time range,
    so Spark can expire buffered state once the watermark passes — the
    state-bounding requirement for stream-stream joins on unbounded
    sources."""
    views = (
        events_stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    buys = (
        events_stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    cond = F.expr(
        "v_user = b_user AND buy_ts >= view_ts "
        f"AND buy_ts <= view_ts + interval {within_minutes} minutes"
    )
    return views.join(buys, cond).select(
        "v_user", "view_id", "buy_id", "view_ts", "buy_ts"
    )


def stream_dedup_events(events_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop retransmitted events by ``event_id``
    within a 1-hour event-time watermark —
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes, so state is bounded by the lateness window instead
    of growing with the stream (the scale requirement for dedup over an
    unbounded source; the batch twin is ``dedup_exact``)."""
    return (
        events_stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type")
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet."""
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return spark.readStream.schema(schema).parquet(
        _stage_stream_dir(sf_dir, "documents")
    )


def stream_word_count(docs_stream: DataFrame) -> DataFrame:
    """Streaming word count — the canonical unbounded-aggregation demo of
    the reference's own framework, as Structured Streaming: running
    per-token totals maintained incrementally across micro-batches
    (update/complete output). Identical logic to the batch
    ``operators.text.word_count`` minus document frequency (per-doc
    distinct state is unbounded per token; the streaming form keeps the
    counter state that partial aggregation bounds).
    """
    from mapreducekmean_spark.operators.text import tokens

    return (
        docs_stream.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


class StreamingKMeans:
    """Mini-batch K-Means over a point stream — the reference's
    algorithm (``/root/reference/src/KMeans.java``) continued onto
    unbounded input, via ``foreachBatch``.

    Per micro-batch: assign each point to its nearest current centroid
    with the SAME oracle-checked kernel as the batch path
    (``operators.kmeans.assign`` — the shared numpy nearest-centroid
    kernel as one Arrow UDF),
    aggregate per-cluster (sum, count) — one exchange of k×(d+1) values
    — and fold into the running model with count-weighted means and an
    optional decay factor (the classic streaming/mini-batch update rule;
    ``decay=1`` is the cumulative mean, ``decay<1`` forgets old batches
    exponentially — the same semantics MLlib's DStream-era
    StreamingKMeans exposed, rebuilt on Structured Streaming).

    State is k×(d+1) floats on the driver — the executor side is
    stateless per batch, so the operator scales exactly like one Lloyd
    iteration per micro-batch. Deterministic given batch order (the
    file-source tests pin order with maxFilesPerTrigger=1).

    Exactness anchor (tested): processing ALL data as one batch from
    init C₀ yields precisely ``centroid_update`` of the batch path —
    the streaming operator IS the Lloyd step, fed incrementally.
    """

    def __init__(self, centroids: list[list[float]], decay: float = 1.0):
        if not centroids:
            raise ValueError("need at least one initial centroid")
        if not 0.0 < decay <= 1.0:
            raise ValueError(f"decay must be in (0, 1], got {decay}")
        self.centroids = [list(map(float, c)) for c in centroids]
        self.weights = [0.0] * len(centroids)
        self.decay = decay
        self.n_batches = 0

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """Fold one micro-batch into the model (the foreachBatch body)."""
        from mapreducekmean_spark.operators.kmeans import assign

        dim = len(self.centroids[0])
        sums = F.expr(
            "array("
            + ",".join(f"sum(element_at(emb, {i + 1}))" for i in range(dim))
            + ")"
        ).alias("s")
        rows = (
            assign(batch_df, self.centroids)
            .groupBy("cluster_id")
            .agg(sums, F.count("*").alias("n"))
            .collect()
        )
        for r in rows:
            j = int(r["cluster_id"])
            w_old = self.weights[j] * self.decay
            n_b = float(r["n"])
            tot = w_old + n_b
            c = self.centroids[j]
            self.centroids[j] = [
                (c[d] * w_old + float(r["s"][d])) / tot for d in range(dim)
            ]
            self.weights[j] = tot
        # clusters with no points this batch keep their centroid (the
        # reference's empty-cluster policy, KMeans.java:129-144) but
        # still decay their weight so they stay adoptable
        seen = {int(r["cluster_id"]) for r in rows}
        for j in range(len(self.centroids)):
            if j not in seen:
                self.weights[j] *= self.decay
        self.n_batches += 1

    def run(self, points_stream: DataFrame) -> None:
        """Drive the stream to completion (synchronous local harness;
        production leaves the query running)."""
        _drain(points_stream, self.update)


def run_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str
) -> None:
    """Production file sink: append-mode parquet with a checkpoint
    location. The checkpoint's offset log + file-sink manifest give
    end-to-end exactly-once for file sources → file sinks: re-running
    with the same checkpoint resumes from recorded offsets and never
    rewrites committed batches (the streaming analogue of the
    reference's archive-by-rename, minus the rename races)."""
    _drain(
        stream_df,
        outputMode="append",
        format="parquet",
        path=path,
        checkpointLocation=checkpoint,
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive a streaming DataFrame to completion against a memory sink
    (synchronous; local test harness)."""
    _drain(stream_df, outputMode=output_mode, format="memory", queryName=name)


class StreamingCMS:
    """Running count-min sketch over a document stream — the streaming
    face of ``operators.sketch``: per micro-batch, the batch's counter
    table (≤ depth × width rows by construction) is collected and
    merged cell-wise into the driver-held sketch. Mergeability is the
    entire trick: CMS(batch₁ ∪ batch₂) == CMS(batch₁) + CMS(batch₂)
    cell-for-cell, so the driver state is exact-equal to having
    sketched the whole stream at once (pinned by
    ``tests/test_streaming.py::test_streaming_cms_matches_batch``),
    stays a few KB forever, and can keep absorbing batches for the
    lifetime of the stream. Contrast with streaming word count, whose
    state grows with the vocabulary.

    ``estimate`` answers point queries driver-side with plain hashlib
    md5 — the same bucket function the executors used — demonstrating
    that the shipped sketch is engine-independent state.
    """

    def __init__(self, depth: int | None = None, width_hex: int | None = None):
        from mapreducekmean_spark.operators.sketch import (
            CMS_DEPTH,
            CMS_WIDTH_HEX,
        )

        self.depth = CMS_DEPTH if depth is None else depth
        self.width_hex = CMS_WIDTH_HEX if width_hex is None else width_hex
        self.counters: dict[tuple[int, str], int] = {}

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        from mapreducekmean_spark.operators.sketch import cms_counters

        rows = cms_counters(batch_df, self.depth, self.width_hex).collect()
        for r in rows:  # ≤ depth × 16^width_hex rows, bounded collect
            key = (r.j, r.bucket)
            self.counters[key] = self.counters.get(key, 0) + r.cnt

    def estimate(self, token: str) -> int:
        import hashlib

        h = hashlib.md5(token.encode()).hexdigest()
        return min(
            self.counters.get(
                (j, h[j * self.width_hex : (j + 1) * self.width_hex]), 0
            )
            for j in range(self.depth)
        )

    def run(self, docs_stream: DataFrame) -> None:
        """Drive the stream to completion (synchronous local harness)."""
        _drain(docs_stream, self.update)


def stream_land_partitions(
    stream_df: DataFrame, path: str, partition_cols: str | list[str]
) -> None:
    """Land a stream into a partitioned parquet layout by PER-BATCH
    partition upsert (``foreachBatch`` → ``sources.upsert_partitions``)
    — the idempotent-replay landing pattern for sources whose
    partitions arrive whole (a day-file, an hourly export, a shard
    drop): replaying a micro-batch rewrites the same partitions with
    the same ROWS instead of duplicating them, which is how a plain
    parquet sink gets effectively-once semantics without a transaction
    log. Row-identical, not byte-identical — part-file names and file
    metadata differ per job, so replay detection must compare row
    multisets (as the restart test does), never file bytes (ADVICE r5).

    CONTRACT: each partition's data must arrive within ONE micro-batch
    (the upsert REPLACES a partition wholesale — two batches touching
    the same partition would keep only the later one). For streams that
    append within a partition, use the checkpointed append sink
    (:func:`run_to_parquet`), whose offset log provides the dedup
    instead.
    """
    from mapreducekmean_spark.sources import upsert_partitions

    _drain(
        stream_df, lambda df, _bid: upsert_partitions(df, path, partition_cols)
    )


def ingest_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    name: str,
    index_path: str,
    out_path: str,
    threshold: float | None = None,
    bm25_path: str | None = None,
    ivf_path: str | None = None,
    ivf_ncells: int | None = None,
    ivfpq_path: str | None = None,
) -> None:
    """One micro-batch of the deduplicating ingest — the ``foreachBatch``
    body of :func:`stream_ingest_dedup`, public so tests (and batch
    backfills) can drive the exact same code path batch by batch.

    Per batch: (1) the replay guard (:func:`operators.cdc._guarded_batch`
    owns the contract; marker ``_ingest_high_water``); (2) index discovery
    from the FILESYSTEM, not the session catalog — after a driver
    restart the (default, in-memory) catalog is empty while the landed
    files persist, and trusting the catalog would silently re-LAND over
    the corpus's signatures; existing files are re-attached
    (``incremental.attach_dedup_index``) instead (r6 review);
    (3) verdict — the first batch self-dedups
    (``minhash_verified_dedup``), later batches score against the
    landed index (``incremental.dedup_delta``), so the kept set over
    any prefix of batches equals the one-shot full-corpus run (the
    incremental module's pinned equivalence); (4) land — kept docs'
    full rows land as the ``ingest_batch=<id>`` partition via
    partition UPSERT (a replayed batch REPLACES its own partition —
    row-identical, never duplicated), and ALL batch docs join the
    index (dropped docs still canonicalize future dups) — skipped when
    ``incremental.batch_already_indexed`` says a prior attempt's
    append completed (the crash-between-append-and-marker window;
    ``dedup_delta`` tolerates re-scoring exactly that state);
    (5) optionally, the OTHER landed indexes over the same corpus grow
    in the same batch turn — ``bm25_path`` keeps a term-bucketed BM25
    index (``search.land/append_bm25_index``) over the KEPT docs, and
    ``ivf_path`` (for batches carrying an ``embedding`` column) keeps
    a cell-partitioned IVF ANN index (``similarity.land/
    append_ivf_index``, quantizer frozen from the first batch), and
    ``ivfpq_path`` likewise keeps the compressed IVF-PQ (IVFADC)
    vector store (``pq.land_ivfpq_index_points/append_ivfpq_index``,
    coarse centroids AND codebooks frozen from the first batch) — so
    the landed corpus is searchable everywhere without manual index
    maintenance; all appends carry their own content-checked replay
    guards, so the crash-between-step-and-marker window stays safe."""
    from mapreducekmean_spark.operators.dedup import (
        VERIFY_THRESHOLD,
        gram_rows,
        minhash_verified_dedup,
    )
    from mapreducekmean_spark.operators.incremental import (
        append_to_index,
        attach_dedup_index,
        batch_already_indexed,
        dedup_delta,
        land_dedup_index,
    )
    from mapreducekmean_spark.sources.bucketing import upsert_partitions

    if threshold is None:
        threshold = VERIFY_THRESHOLD

    def apply(batch_df: DataFrame) -> None:
        has_index = os.path.exists(os.path.join(index_path, "sizes"))
        if has_index:
            attach_dedup_index(spark, name, index_path)  # no-op if known
            sh = gram_rows(batch_df).distinct().localCheckpoint()
            verdict = dedup_delta(
                spark, batch_df, name, threshold, shingled=sh
            )
        else:
            sh = None
            verdict = minhash_verified_dedup(batch_df, threshold)
        # checkpoint: kept feeds SEVERAL actions below (output upsert, the
        # BM25 totals/tf/probe, the IVF head + write), and the index
        # upserts in between MUTATE the landed state the lazy verdict is
        # derived from — the same hazard pipeline.py checkpoints against
        # (dedup_delta's tail-state tolerance would mask it, but only by
        # re-running the whole candidate join per action)
        kept = batch_df.join(
            verdict.filter("kept").select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint()
        upsert_partitions(
            kept.withColumn("ingest_batch", F.lit(int(batch_id))),
            out_path,
            "ingest_batch",
        )
        if not has_index:
            land_dedup_index(spark, batch_df, name, index_path)
        elif not batch_already_indexed(spark, batch_df, name, shingled=sh):
            append_to_index(spark, batch_df, name, shingled=sh)
        if bm25_path is not None:
            from mapreducekmean_spark.operators.search import (
                append_bm25_index,
                attach_bm25_index,
                land_bm25_index,
            )

            bm25_name = f"{name}_bm25"
            if os.path.exists(os.path.join(bm25_path, "tf")):
                attach_bm25_index(spark, bm25_name, bm25_path)
                append_bm25_index(spark, kept, bm25_name)
            else:
                land_bm25_index(spark, kept, bm25_name, bm25_path)
        if (
            ivf_path is not None or ivfpq_path is not None
        ) and "embedding" in batch_df.columns:
            from mapreducekmean_spark.functions.vector import as_double_array

            vecs = kept.select(
                F.col("doc_id").alias("vec_id"),
                as_double_array("embedding").alias("emb"),
            )
            if ivf_path is not None:
                from mapreducekmean_spark.operators.similarity import (
                    append_ivf_index,
                    land_ivf_index_points,
                )

                if os.path.exists(os.path.join(ivf_path, "centroids")):
                    append_ivf_index(spark, vecs, ivf_path)
                else:
                    land_ivf_index_points(
                        spark, vecs, ivf_path, **(
                            {"ncells": ivf_ncells} if ivf_ncells else {}
                        )
                    )
            if ivfpq_path is not None:
                from mapreducekmean_spark.operators.pq import (
                    append_ivfpq_index,
                    land_ivfpq_index_points,
                )

                if os.path.exists(os.path.join(ivfpq_path, "centroids")):
                    append_ivfpq_index(spark, vecs, ivfpq_path)
                else:
                    land_ivfpq_index_points(
                        spark, vecs, ivfpq_path, **(
                            {"ncells": ivf_ncells} if ivf_ncells else {}
                        )
                    )

    _guarded_batch(
        batch_df,
        batch_id,
        os.path.join(index_path, "_ingest_high_water"),
        apply,
    )


def stream_ingest_dedup(
    docs_stream: DataFrame,
    name: str,
    index_path: str,
    out_path: str,
    bm25_path: str | None = None,
    ivf_path: str | None = None,
    ivfpq_path: str | None = None,
) -> None:
    """Deduplicating ingest: the composition a production corpus
    pipeline actually runs — a document stream lands APPEND-ONLY clean
    parquet while the dedup signature index grows with every batch.
    ``foreachBatch`` → :func:`ingest_dedup_batch`; semantics, replay
    behavior, and the batch-prefix ≡ full-corpus equivalence are
    documented there and pinned in tests/test_streaming_ingest.py.

    PRECONDITION (inherited from ``incremental.dedup_delta``): doc_ids
    are append-only monotone across batches — each batch's ids exceed
    everything landed. The delta guard refuses otherwise, which also
    catches accidental re-delivery that the batch-id replay guard
    didn't (a re-sent batch under a NEW batch id)."""
    spark = docs_stream.sparkSession
    _drain(
        docs_stream,
        lambda df, bid: ingest_dedup_batch(
            spark, df, bid, name, index_path, out_path,
            bm25_path=bm25_path, ivf_path=ivf_path, ivfpq_path=ivfpq_path,
        ),
        store=index_path,
    )


def chunk_ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    name: str,
    index_path: str,
    out_path: str,
    size: int | None = None,
    stride: int | None = None,
) -> None:
    """One micro-batch of the CHUNK-STORE ingest — the ``foreachBatch``
    body of :func:`stream_chunk_ingest`, public so tests and batch
    backfills drive the exact same code path. The composition a RAG /
    long-context ingest runs: arriving documents chunk into
    token windows (``text.chunk_documents``), duplicate chunks dedup
    corpus-wide on ``chunk_hash`` (boilerplate paragraphs repeat
    across documents and batches — the C4 lesson at chunk grain), and
    the first occurrence lands append-only while the landed hash
    table grows.

    Per batch: (1) the replay guard (:func:`operators.cdc._guarded_batch`,
    marker ``_chunk_ingest_high_water``); (2) chunk; (3) within-batch
    first occurrence per hash — min (doc_id, chunk_id); (4) cross-batch:
    anti-join against the landed hash table, counting only rows landed
    by EARLIER batches (``doc_id < batch_min`` — a crashed prior
    attempt of THIS batch landed hashes with ``doc_id >= batch_min``,
    and trusting those would drop the whole rerun as duplicates of
    itself; NULL
    provenance counts as landed-earlier — the
    ``prepare_training_data_incremental`` discipline verbatim);
    (5) kept chunks land as the ``ingest_batch=<id>`` partition via
    partition UPSERT (a replay REPLACES its own partition); (6) ALL
    the batch's first-occurrence hashes append to the hash table —
    skipped when a presence probe of the batch's max-id hash says a
    prior attempt's append completed. PRECONDITION (shared with every
    ingest here): doc_ids append-only monotone across batches.

    Equivalence (pinned in tests/test_streaming_ingest.py): the union
    of landed chunks over batches b1..bn equals the one-shot
    ``chunk_documents(b1 ∪ ... ∪ bn)`` deduplicated to the min
    (doc_id, chunk_id) per chunk_hash — plus the ``ingest_batch``
    provenance column."""
    from mapreducekmean_spark.operators.incremental import INDEX_BUCKETS
    from mapreducekmean_spark.operators.text import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        chunk_documents,
    )
    from mapreducekmean_spark.sources.bucketing import (
        read_bucketed,
        upsert_partitions,
        write_bucketed,
    )

    if size is None:
        size = CHUNK_SIZE
    if stride is None:
        stride = CHUNK_STRIDE

    def apply(batch_df: DataFrame) -> None:
        batch_min = batch_df.agg(F.min("doc_id")).collect()[0][0]
        chunks = chunk_documents(
            batch_df.select("doc_id", "text"), size=size, stride=stride
        ).localCheckpoint()
        # within-batch first occurrence per hash: min (doc_id, chunk_id)
        first = chunks.groupBy("chunk_hash").agg(
            F.min(F.struct("doc_id", "chunk_id")).alias("w")
        )
        batch_first = chunks.join(
            first.select(
                "chunk_hash",
                F.col("w.doc_id").alias("doc_id"),
                F.col("w.chunk_id").alias("chunk_id"),
            ),
            ["chunk_hash", "doc_id", "chunk_id"],
        ).localCheckpoint()

        hashes_dir = os.path.join(index_path, "hashes")
        have_hashes = os.path.exists(hashes_dir)
        if have_hashes:
            if not spark.catalog.tableExists(f"{name}_chunk_hashes"):
                spark.sql(
                    f"CREATE TABLE {name}_chunk_hashes "
                    f"(chunk_hash STRING, doc_id BIGINT) "
                    f"USING parquet CLUSTERED BY (chunk_hash) "
                    f"SORTED BY (chunk_hash) INTO {INDEX_BUCKETS} "
                    f"BUCKETS LOCATION '{hashes_dir}'"
                )
            landed = read_bucketed(spark, f"{name}_chunk_hashes").filter(
                F.col("doc_id").isNull() | (F.col("doc_id") < batch_min)
            )
            kept = batch_first.join(
                landed.select("chunk_hash"), "chunk_hash", "left_anti"
            ).localCheckpoint()
        else:
            kept = batch_first
        upsert_partitions(
            kept.withColumn("ingest_batch", F.lit(int(batch_id))),
            out_path,
            "ingest_batch",
        )
        # grow the hash table with the KEPT hashes only — the within-batch
        # firsts not already landed by a prior batch. Appending all of
        # batch_first would re-append every cross-batch loser's hash each
        # batch, growing the table one duplicate row per repeated chunk
        # per batch forever (r11 advice — set-semantic consumers stayed
        # correct, but the table's scan cost didn't). The replay probe
        # below keys on the SAME frame being appended, so a
        # crash-after-append replay (kept recomputes identically: the
        # landed anti-join filter excludes this batch's own rows) is still
        # detected on its max-id row.
        new_hashes = kept.select("chunk_hash", "doc_id")
        probe = new_hashes.orderBy(
            F.col("doc_id").desc(), F.col("chunk_hash").asc()
        ).take(1)
        already = bool(probe) and have_hashes and bool(
            spark.table(f"{name}_chunk_hashes")
            .filter(
                (F.col("chunk_hash") == probe[0]["chunk_hash"])
                & (F.col("doc_id") == probe[0]["doc_id"])
            )
            .take(1)
        )
        if not already:
            write_bucketed(
                new_hashes,
                f"{name}_chunk_hashes",
                "chunk_hash",
                INDEX_BUCKETS,
                hashes_dir,
                mode="append" if have_hashes else "overwrite",
            )

    _guarded_batch(
        batch_df,
        batch_id,
        os.path.join(index_path, "_chunk_ingest_high_water"),
        apply,
    )


def stream_chunk_ingest(
    docs_stream: DataFrame,
    name: str,
    index_path: str,
    out_path: str,
) -> None:
    """Chunk-store ingest: a document stream lands APPEND-ONLY
    deduplicated context-window chunks while the chunk-hash table
    grows with every batch. ``foreachBatch`` →
    :func:`chunk_ingest_batch`; semantics, replay behavior, and the
    batch-prefix ≡ one-shot equivalence are documented there and
    pinned in tests/test_streaming_ingest.py."""
    spark = docs_stream.sparkSession
    _drain(
        docs_stream,
        lambda df, bid: chunk_ingest_batch(
            spark, df, bid, name, index_path, out_path
        ),
        store=index_path,
    )


def stream_cdc_merge(
    changes_stream: DataFrame,
    snapshot_path: str,
    seq: str = "seq",
    op: str = "op",
) -> None:
    """Streaming MERGE: a CDC change stream (insert/update/delete rows)
    maintains a ``kb=``-partitioned parquet snapshot, rewriting only the
    key buckets each micro-batch touches — the plain-parquet form of a
    streaming MERGE INTO. ``foreachBatch`` →
    :func:`operators.cdc.cdc_merge_stream_batch`, whose replay guard
    is :func:`operators.cdc._guarded_batch`. Batches apply
    sequentially, so later batches win without seq namespacing."""
    from mapreducekmean_spark.operators.cdc import cdc_merge_stream_batch

    spark = changes_stream.sparkSession
    _drain(
        changes_stream,
        lambda df, bid: cdc_merge_stream_batch(
            spark, df, bid, snapshot_path, seq=seq, op=op
        ),
        store=snapshot_path,
    )


_SCD2_OUT_SCHEMA = (
    "user_id bigint, seg_id bigint, status string, "
    "valid_from_us bigint, valid_to_us bigint, n_events bigint"
)
_SCD2_STATE_SCHEMA = "seg_id bigint, status string, start_us bigint, n bigint"


def _scd2_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Per-user SCD2 accumulator: a status change closes the open
    segment (emitted with ``valid_to_us`` = the new segment's start)
    and opens the next; the open segment lives in the state store.
    Within a batch, rows are ordered by (us, event_id) — the batch
    operator's total order — and across batches the caller guarantees
    append-only event time per user (a CDC/dimension feed's contract)."""
    (user_id,) = key
    rows: list[tuple[int, int, str]] = []
    for pdf in pdfs:
        rows.extend(
            (int(u), int(e), str(t))
            for u, e, t in zip(pdf["us"], pdf["event_id"], pdf["event_type"])
        )
    rows.sort()
    if state.exists:
        seg_id, status, start_us, n = state.get
    else:
        seg_id, status, start_us, n = 0, None, -1, 0
    out = []
    for us, _eid, typ in rows:
        if status is None:
            seg_id, status, start_us, n = 1, typ, us, 1
        elif typ != status:
            out.append((user_id, seg_id, status, start_us, us, n))
            seg_id, status, start_us, n = seg_id + 1, typ, us, 1
        else:
            n += 1
    state.update((seg_id, status, start_us, n))
    yield pd.DataFrame(
        out,
        columns=[
            "user_id",
            "seg_id",
            "status",
            "valid_from_us",
            "valid_to_us",
            "n_events",
        ],
    )


def stream_scd2(events_stream: DataFrame) -> DataFrame:
    """Streaming SCD type-2 maintenance via ``applyInPandasWithState``:
    CLOSED validity segments are appended as each user's status changes;
    the open (is_current) segment per user lives in the state store —
    exactly the split a warehouse job wants (closed history is
    append-only; current rows are the small mutable set). Logic mirrors
    ``operators/cdc.py:scd2_history``; the one-batch stream output is
    pytest-pinned equal to the batch operator's non-current rows, and
    the multi-batch run equal to the one-batch run (append-only event
    time per user is the feed's contract, as for any CDC stream)."""
    from mapreducekmean_spark.shipping import ship_package

    ship_package(events_stream.sparkSession)  # _scd2_fn pickles by ref
    with_us = events_stream.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        "event_type",
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _scd2_fn,
        outputStructType=_SCD2_OUT_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def semantic_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    ncells: int | None = None,
) -> None:
    """One micro-batch of the streaming SEMANTIC dedup — the
    ``foreachBatch`` body of :func:`stream_semantic_dedup`, public so
    tests and batch backfills drive the same code path. The embedding
    twin of :func:`ingest_dedup_batch`, built from the same replayable
    parts:

    (1) the replay guard (:func:`operators.cdc._guarded_batch`, marker
    ``_semdedup_high_water``); (2) index discovery from the
    FILESYSTEM — the first batch LANDS the IVF index from itself
    (quantizer frozen forever after, the vector-store contract), later
    batches leave it to step (4); (3) verdicts via
    ``similarity.semantic_dedup_delta`` against the landed index — on
    the first batch the landed rows ARE the batch, and the delta's
    replay anti-join reduces it to exactly the in-batch self-dedup, so
    one code path covers both cases AND the crash-after-append replay;
    (4) the batch's vectors join the index (``append_ivf_index``, its
    own content-checked replay guard) — dropped vectors included,
    since a dropped vector still canonicalizes later duplicates;
    (5) verdicts land as the ``sem_batch=<id>`` partition via
    partition UPSERT (a replay REPLACES its own partition,
    row-identical).

    Batch-prefix equivalence (pinned in tests/test_streaming_ingest.py):
    after any prefix of batches, the landed verdicts equal the one-shot
    ``semantic_dedup`` over the union under the first batch's frozen
    quantizer. PRECONDITION: vec_ids append-only monotone across
    batches (the delta guard refuses otherwise)."""
    from mapreducekmean_spark.operators import kmeans as km
    from mapreducekmean_spark.operators.similarity import (
        append_ivf_index,
        land_ivf_index_points,
        semantic_dedup_delta,
    )
    from mapreducekmean_spark.sources.bucketing import upsert_partitions

    def apply(batch_df: DataFrame) -> None:
        if not os.path.exists(os.path.join(index_path, "centroids")):
            land_ivf_index_points(
                spark, batch_df, index_path,
                **({"ncells": ncells} if ncells else {}),
            )
        verdicts = semantic_dedup_delta(spark, batch_df, index_path)
        upsert_partitions(
            verdicts.withColumn("sem_batch", F.lit(int(batch_id))),
            out_path,
            "sem_batch",
        )
        append_ivf_index(spark, batch_df, index_path)

    _guarded_batch(
        batch_df.select("vec_id", "emb"),
        batch_id,
        os.path.join(index_path, "_semdedup_high_water"),
        apply,
    )


def stream_semantic_dedup(
    vec_stream: DataFrame,
    index_path: str,
    out_path: str,
    ncells: int | None = None,
) -> None:
    """Streaming semantic (embedding) dedup: the composition a 100 TB
    embedding pipeline runs — each arriving vector batch is scored
    against the LANDED IVF index's touched cells only, verdicts land
    append-only, and the index grows with every batch. ``foreachBatch``
    → :func:`semantic_dedup_batch`; semantics, replay behavior, and the
    batch-prefix ≡ one-shot equivalence are documented there."""
    spark = vec_stream.sparkSession
    _drain(
        vec_stream,
        lambda df, bid: semantic_dedup_batch(
            spark, df, bid, index_path, out_path, ncells=ncells
        ),
        store=index_path,
    )


def stream_agg_maintenance(
    rows_stream: DataFrame,
    agg_path: str,
) -> None:
    """Streamed incremental aggregate: each micro-batch of raw rows
    folds into the landed per-key aggregate, rewriting only the key
    buckets it touches — the materialized-view twin of
    :func:`stream_cdc_merge`. ``foreachBatch`` →
    :func:`operators.cdc.agg_stream_batch`, whose per-key ``last_bid``
    watermark covers even a partial bucket-swap crash. The four
    ``stream_*_maintenance`` runners below are this runner over a
    row-wise projection of their input stream."""
    from mapreducekmean_spark.operators.cdc import agg_stream_batch

    spark = rows_stream.sparkSession
    _drain(
        rows_stream,
        lambda df, bid: agg_stream_batch(spark, df, bid, agg_path),
        store=agg_path,
    )


class StreamingBottomK:
    """Running bottom-k quantile sketch over an events stream — the
    quantile twin of :class:`StreamingCMS`: per micro-batch, the batch's
    own bottom-k sample (built map-side via WindowGroupLimit,
    ``sketch.bottomk_sample``) collects (≤ types × k rows, bounded) and
    merges into driver state by MIN-UNION — keep each type's k smallest
    md5 keys. Because bottom-k merge is exact (a row is in the union's
    bottom-k iff its key is among the k smallest overall, and any such
    row survived its own batch's bottom-k), the running state after any
    prefix of batches is IDENTICAL to sketching that prefix at once —
    pinned in tests/test_streaming.py. ``quantiles`` answers driver-side
    with the same type-1 positional pick the batch estimator uses.

    There is no batch-id guard: the skey-keyed merge already makes a
    redelivered batch a no-op, and ``run`` keeps no checkpoint, so
    batch ids restart at 0 on every run."""

    def __init__(self, k: int | None = None, seed: int | None = None):
        from mapreducekmean_spark.operators.sketch import QSK_K, QSK_SEED

        self.k = QSK_K if k is None else k
        self.seed = QSK_SEED if seed is None else seed
        #: per type: list of (skey, cents), kept sorted, ≤ k entries
        self.samples: dict[str, list[tuple[str, int]]] = {}

    def update(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        from mapreducekmean_spark.operators.sketch import bottomk_sample

        rows = bottomk_sample(batch_df, self.k, self.seed).collect()
        by_type: dict[str, list[tuple[str, int]]] = {}
        for r in rows:  # bounded: ≤ types × k rows
            by_type.setdefault(r.event_type, []).append((r.skey, r.cents))
        for t, new in by_type.items():
            # merge keyed by skey so an event present in both the state
            # and an overlapping batch occupies ONE sample slot — the
            # min-union prefix-exactness claim needs distinct events.
            merged = dict(self.samples.get(t, []))
            merged.update(new)
            self.samples[t] = sorted(merged.items())[: self.k]

    def quantiles(self, event_type: str) -> dict[str, int]:
        """Type-1 positional estimates off the running sample."""
        cents = sorted(c for _s, c in self.samples.get(event_type, []))
        n = len(cents)
        if not n:
            return {}

        def pick(num: int, den: int) -> int:
            return cents[(n * num + den - 1) // den - 1]

        return {
            "n_sampled": n,
            "p50_est": pick(1, 2),
            "p90_est": pick(9, 10),
            "p99_est": pick(99, 100),
        }

    def run(self, events_stream: DataFrame) -> None:
        """Drive the stream to completion (synchronous local harness)."""
        _drain(events_stream, self.update)


def stream_host_stats_maintenance(
    docs_stream: DataFrame,
    snap_path: str,
) -> None:
    """Streamed maintenance of the host_stats level snapshot — the
    daily-report pipeline as a continuous ingest: each micro-batch of
    raw documents projects to the keyed (source, content_hash) level
    inputs (ONE fused tokenize/quality/hash projection,
    ``text._host_key_rows``) and folds into the landed aggregate
    snapshot via :func:`stream_agg_maintenance` — touched-bucket
    copy-on-write, partial-crash replay converges. The report
    (:func:`operators.text.host_stats_from_snapshot`) stays
    level-table arithmetic at any moment of the stream, exact after
    every batch prefix (pinned in tests/test_cdc.py)."""
    from mapreducekmean_spark.operators.text import _host_key_rows

    stream_agg_maintenance(_host_key_rows(docs_stream), snap_path)


def stream_quality_deciles_maintenance(
    docs_stream: DataFrame,
    snap_path: str,
) -> None:
    """Streamed maintenance of the quality-decile level snapshot — the
    gate-calibration table as a continuous ingest (r13 verdict item
    #7, completing the maintained-report family): each micro-batch of
    raw documents projects to the scaled-bigint quality level inputs
    (ONE fused projection, ``text._quality_level_rows``) and folds
    into the landed aggregate snapshot via
    :func:`stream_agg_maintenance`. The decile report
    (:func:`operators.text.quality_deciles_from_snapshot`) stays
    level-table arithmetic at any moment of the stream, exact after
    every batch prefix."""
    from mapreducekmean_spark.operators.text import _quality_level_rows

    stream_agg_maintenance(_quality_level_rows(docs_stream), snap_path)


def stream_seq_len_histogram_maintenance(
    docs_stream: DataFrame,
    snap_path: str,
) -> None:
    """Streamed maintenance of the (source, bucket) length-histogram
    snapshot — :func:`stream_agg_maintenance` over
    ``text._seqlen_key_rows``; the report off the snapshot stays
    exact after every batch prefix."""
    from mapreducekmean_spark.operators.text import _seqlen_key_rows

    stream_agg_maintenance(_seqlen_key_rows(docs_stream), snap_path)


def stream_embedding_stats_maintenance(
    embs_stream: DataFrame,
    snap_path: str,
) -> None:
    """Streamed maintenance of the per-dimension drift snapshot —
    :func:`stream_agg_maintenance` over ``text._embedding_cell_rows``
    (sums add under the watermark, min/max fold by least/greatest);
    the d-row report stays exact after every batch prefix."""
    from mapreducekmean_spark.operators.text import _embedding_cell_rows

    stream_agg_maintenance(_embedding_cell_rows(embs_stream), snap_path)
