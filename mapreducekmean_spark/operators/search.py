"""Full-text ranked retrieval — BM25 over the ``documents`` table.

The reference engine has no text search (its only string op is CSV
splitting, ``/root/reference/src/MapReduceKMean/PointsMapper.java:61``);
this module adds the classic lexical-retrieval primitive (Robertson's
Okapi BM25, public since TREC-3 1994) that a corpus pipeline uses for
"find documents like/about X" — the retrieval half of a RAG stack, and
the standard baseline embedding search (``operators/similarity.py``) is
judged against.

Spark shape, designed for the 100 TB corpus:
- the per-(doc, term) term-frequency table is one explode + one
  partial/final aggregate on (doc_id, term) — stopword skew is absorbed
  map-side exactly as in ``word_count``;
- document frequencies and corpus stats aggregate from that tf table
  (vocabulary-sized, uniform term keys);
- a query is a HANDFUL of terms: the term list broadcasts as a literal
  filter pushed to the tf scan, the per-term idf table broadcasts into
  the join, and the final score is one aggregate per candidate doc +
  top-n — so query cost scales with the POSTINGS of the query terms,
  never the corpus. Batch-scoring many queries reuses the same tf
  table AND the query-independent corpus stats (pass ``tf=`` from
  :func:`term_frequencies` and ``n_docs``/``avgdl`` from
  :func:`corpus_stats_for_search` — the inverted-index analogue of a
  bucketed layout; computing them per query would make every query
  corpus-bound).

No Python UDFs anywhere; ``ln`` makes scores float (not cross-engine
hashable), so the suite pins this module with a pure-Python reference
implementation in pytest rather than a DuckDB value-hash twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducekmean_spark.functions.skew import shuffle_width
from mapreducekmean_spark.operators.similarity import top_k_per_query
from mapreducekmean_spark.operators.text import tokens

from mapreducekmean_spark.session import local_rows_df

BM25_K1 = 1.2
BM25_B = 0.75


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) + per-doc length — the materializable index.

    The token stream is explicitly repartitioned ONCE on doc_id at the
    configured shuffle width: HashPartitioning(doc_id) satisfies the
    clustering of BOTH groupBys (doc_id ⊆ {doc_id, term}) and the
    tf⋈dl join, so the whole index build pays exactly one exchange —
    and, being user-specified, it opts out of AQE's byte-based
    coalescing that packed these CPU-heavy stages into 1-2 tasks
    (optimization r14; same pattern as dedup.gram_rows, paired A/B:
    bm25_index_stats 0.33→0.22 s, rerank_topk/hybrid_topk −0.1 s,
    values identical)."""
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ).repartition(shuffle_width(docs), "doc_id")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "doc_id")


def corpus_stats_for_search(docs: DataFrame) -> tuple[int, float]:
    """(n_docs, avgdl) — the query-independent BM25 corpus statistics,
    computed ONCE per corpus (avgdl averages over ALL documents,
    including zero-token ones, matching the textbook definition and
    the pytest reference). Batch scoring passes these with the
    precomputed tf index so per-query work is postings-bound."""
    row = docs.select(
        F.count("*").alias("n"),
        # NULL text must count as a zero-length doc, not drop out of the
        # average (avg skips NULLs) or poison it with size()'s legacy -1
        # (spark.sql.legacy.sizeOfNull) — either silently skews every
        # BM25 score (ADVICE r5).
        F.avg(
            F.when(F.col("text").isNull(), F.lit(0)).otherwise(
                F.size(tokens("text"))
            )
        ).alias("avgdl"),
    ).collect()[0]
    if int(row["n"]) == 0:
        raise ValueError(
            "corpus_stats_for_search on an empty corpus: BM25 statistics "
            "(n_docs, avgdl) are undefined with zero documents — land at "
            "least one document before building the index"
        )
    return int(row["n"]), float(row["avgdl"])


def bm25_search(
    docs: DataFrame,
    query: str,
    top_n: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    tf: DataFrame | None = None,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """Top-``top_n`` documents for ``query`` by BM25.

    idf uses the standard +1-smoothed form (always positive):
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``. Ties break by doc_id
    ascending so results are deterministic. The query is tokenized with
    the INDEX's tokenizer (``TOKEN_RE``) — a whitespace split would
    silently drop punctuated query terms the corpus plainly contains.

    Per-query cost is postings-bound ONLY when the query-independent
    pieces are reused: pass ``tf`` from :func:`term_frequencies` and
    ``n_docs``/``avgdl`` from :func:`corpus_stats_for_search`; when
    omitted they are computed here, which costs a corpus pass.
    """
    import re

    from mapreducekmean_spark.operators.text import TOKEN_RE

    q_terms = sorted(set(re.findall(TOKEN_RE, query.lower())))
    if not q_terms:
        raise ValueError("empty query")
    if tf is None:
        tf = term_frequencies(docs)
    if n_docs is None or avgdl is None:
        n_docs, avgdl = corpus_stats_for_search(docs)
    df_ = (
        tf.filter(F.col("term").isin(q_terms))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    idf = df_.select(
        "term",
        F.log(
            1.0
            + (F.lit(float(n_docs)) - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    scored = (
        tf.filter(F.col("term").isin(q_terms))
        .join(F.broadcast(idf), "term")
        .select(
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))
                )
            ).alias("s"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("s"), 6).alias("score"),
            F.count("*").cast("bigint").alias("n_matched_terms"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_n)
    )


#: Bucket count for the landed tf index (term-keyed).
BM25_INDEX_BUCKETS = 8


def land_bm25_index(
    spark,
    docs: DataFrame,
    name: str,
    path: str,
    buckets: int = BM25_INDEX_BUCKETS,
) -> None:
    """Persist the BM25 index: the (doc_id, term, tf, dl) table bucketed
    by TERM — the grouping/filter key of every query-side step — plus a
    one-row stats table.

    Stats are stored as INTEGER totals (n_docs, total_dl) with avgdl
    derived at read time: integer sums are order-independent, so
    :func:`append_bm25_index` can extend them exactly and an appended
    index's scores stay BIT-identical to a from-scratch rebuild (a
    stored float avgdl would accumulate per-append rounding).

    This closes the loop the docstring above only gestured at: without
    a landed index, every ``bm25_search`` call rebuilds tf from the
    corpus unless the caller threads ``tf=`` by hand (VERDICT r5 #7).
    Bucketing by term makes the query-side df aggregate land on the
    scan's own partitioning — zero Exchange on the postings side, the
    inverted-index property, pinned in tests/test_plans.py. At 100 TB
    the index is written once per corpus build, grown per batch with
    :func:`append_bm25_index`, and every query after that reads only
    the buckets its terms hash to."""
    from mapreducekmean_spark.sources.bucketing import write_bucketed

    tf = term_frequencies(docs)
    write_bucketed(tf, f"{name}_tf", "term", buckets, f"{path}/tf")
    n_docs, total_dl, max_doc = _corpus_totals(docs)
    (
        local_rows_df(spark, 
            [(max_doc, n_docs, total_dl)],
            "max_doc_id bigint, n_docs bigint, total_dl bigint",
        )
        .write.format("parquet")
        .mode("overwrite")
        .option("path", f"{path}/stats")
        .saveAsTable(f"{name}_stats")
    )


def _corpus_totals(docs: DataFrame) -> tuple[int, int, int]:
    """(n_docs, total token count, max doc_id) — the integer form of
    the BM25 corpus statistics (avgdl = total_dl / n_docs) plus the
    batch ceiling the append replay guard keys on. NULL text counts as
    zero-length, same contract as ``corpus_stats_for_search``."""
    row = docs.select(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("text").isNull(), F.lit(0)).otherwise(
                F.size(tokens("text"))
            )
        ).alias("t"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    # NOT `row["mx"] or -1`: doc_ids start at 0 in this engine, and the
    # falsy zero would corrupt the append replay-guard ceiling (a batch
    # whose max id is 0 would read as already-appended forever)
    mx = row["mx"]
    return int(row["n"]), int(row["t"] or 0), -1 if mx is None else int(mx)


def attach_bm25_index(
    spark,
    name: str,
    path: str,
    buckets: int = BM25_INDEX_BUCKETS,
) -> None:
    """Re-register a landed BM25 index in THIS session's catalog (after
    a restart) — same filesystem-is-truth stance as
    ``incremental.attach_dedup_index``: the bucket layout only exists
    through the catalog entry, so the DDL repeats the land-time spec.
    Idempotent."""
    if not spark.catalog.tableExists(f"{name}_tf"):
        spark.sql(
            f"CREATE TABLE {name}_tf "
            f"(doc_id BIGINT, term STRING, tf BIGINT, dl BIGINT) "
            f"USING parquet CLUSTERED BY (term) SORTED BY (term) "
            f"INTO {buckets} BUCKETS LOCATION '{path}/tf'"
        )
    if not spark.catalog.tableExists(f"{name}_stats"):
        spark.sql(
            f"CREATE TABLE {name}_stats "
            f"(max_doc_id BIGINT, n_docs BIGINT, total_dl BIGINT) "
            f"USING parquet LOCATION '{path}/stats'"
        )


def append_bm25_index(
    spark,
    new_docs: DataFrame,
    name: str,
    buckets: int = BM25_INDEX_BUCKETS,
) -> None:
    """Grow the landed index by one batch: the batch's (doc, term) tf
    rows append into the term-bucketed table (per-doc rows are disjoint
    across batches — PRECONDITION: new doc_ids only, monotone across
    batches), and ONE stats delta row appends beside them — readers sum
    the integer deltas, so queries against the appended index score
    BIT-identically to a full rebuild (pinned in tests/test_search.py).

    Replay-safe (ADVICE r6): both writes are APPENDS — nothing is
    overwritten in place — and the stats rows double as the append log.
    A batch whose max doc_id is at or under the recorded ceiling
    already completed (stats land LAST), so a replayed append is a
    no-op; a crash BETWEEN the tf append and the stats append is
    detected by probing the tf table for the batch's highest-id posting
    (a term-equality probe — bucket-pruned, never a full index scan):
    present means only the stats row is missing and only it is
    re-appended. The window left open is a crash mid-job-commit of one
    parquet write — the filesystem commit protocol's own granularity,
    same stance as ``incremental.batch_already_indexed``.

    Refuses when the index is not in the catalog (attach first) — the
    same no-shadow-tables contract as the dedup index."""
    for t in (f"{name}_tf", f"{name}_stats"):
        if not spark.catalog.tableExists(t):
            raise ValueError(
                f"append_bm25_index: {t} is not registered in this "
                f"session's catalog. Run land_bm25_index (new index) or "
                f"attach_bm25_index (existing files, e.g. after a "
                f"session restart) first."
            )
    from mapreducekmean_spark.sources.bucketing import write_bucketed

    n_new, dl_new, batch_max = _corpus_totals(new_docs)
    if n_new == 0:
        return
    ceiling = spark.table(f"{name}_stats").agg(
        F.max("max_doc_id").alias("mx")
    ).collect()[0]["mx"]
    if ceiling is not None and batch_max <= int(ceiling):
        return  # replayed append of a completed batch: no-op
    tf_new = term_frequencies(new_docs).localCheckpoint()
    probe = (
        tf_new.orderBy(F.col("doc_id").desc(), F.col("term").asc())
        .select("doc_id", "term")
        .take(1)
    )
    tf_already = bool(probe) and bool(
        spark.table(f"{name}_tf")
        .filter(
            (F.col("term") == probe[0]["term"])
            & (F.col("doc_id") == probe[0]["doc_id"])
        )
        .take(1)
    )
    if not tf_already:
        write_bucketed(tf_new, f"{name}_tf", "term", buckets, mode="append")
    (
        local_rows_df(spark, 
            [(batch_max, n_new, dl_new)],
            "max_doc_id bigint, n_docs bigint, total_dl bigint",
        )
        .write.insertInto(f"{name}_stats")
    )
    spark.sql(f"REFRESH TABLE {name}_stats")


def bm25_search_indexed(
    spark,
    query: str,
    name: str,
    top_n: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """``bm25_search`` against the LANDED index: postings from the
    term-bucketed tf table, corpus stats from the one-row stats table —
    no corpus pass anywhere, identical scores to the in-session path
    (pinned in tests/test_search.py)."""
    from mapreducekmean_spark.sources.bucketing import read_bucketed

    # stats is an append log: one integer delta row per land/append;
    # the current totals are their sums (order-independent — the
    # bit-identical-to-rebuild property survives any append history)
    st = spark.table(f"{name}_stats").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_dl").alias("total_dl"),
    ).collect()[0]
    tf = read_bucketed(spark, f"{name}_tf")
    n_docs = int(st["n_docs"] or 0)
    if n_docs == 0:
        raise ValueError(f"BM25 index {name!r} is empty")
    # docs is unused once tf + stats are supplied; pass the index table
    # to keep the signature honest. avgdl derives from the INTEGER
    # totals at read time — one division, identical whether the index
    # was built in one shot or grown by appends.
    return bm25_search(
        tf,
        query,
        top_n,
        k1,
        b,
        tf=tf,
        n_docs=n_docs,
        avgdl=int(st["total_dl"]) / n_docs,
    )


def bm25_search_indexed_batch(
    spark,
    queries: DataFrame,
    name: str,
    top_n: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Serve a whole QUERY BATCH against the landed index in one pass —
    the production serving shape. :func:`bm25_search_indexed` launches
    one Spark query per search string, so an n-query batch pays n
    sequential job rounds even though every round reads the same
    postings buckets (measured: the 500k-doc retrieval probe's serve
    path was dominated by exactly this). Here ``queries`` is a bounded
    ``(q_id, text)`` frame; its tokens collect driver-side (bounded by
    construction, same stance as the ANN probe paths), the UNION of all
    terms prunes the bucketed tf scan ONCE, and per-term df/idf come
    from one zero-Exchange aggregate on that scan.

    Scoring deliberately does NOT join postings against the (q_id,
    term) pairs: common terms shared by many queries multiply — at 500k
    docs a 24-query batch expanded 11.6M postings into 68M pair rows,
    and the (q_id, doc_id) aggregate over them was 17 of the 24 serve
    seconds. Instead each posting's query-independent contribution
    (idf x tf-norm — computed ONCE per posting, JVM codegen, the exact
    expression the per-query path evaluates) is shuffled by doc_id, and
    one Arrow-batched numpy pass per partition resolves every query at
    once: a broadcast (term x query) membership matrix turns per-query
    scoring into one bincount over the partition's postings, and each
    task emits only its per-query top-n — shuffle volume is the
    postings themselves, output is n_tasks x n_queries x top_n rows.
    The final rounding (F.round, exact decimal semantics) and global
    rank stay in Spark, so scores and ranking are IDENTICAL to the
    per-query path (same idf form, same tie-break; pinned in
    tests/test_search.py).

    Output: (q_id, doc_id, score, n_matched_terms, rank) with rank
    1..top_n per query by (score desc, doc_id asc). Queries with no
    tokens raise, matching ``bm25_search``."""
    import re

    from mapreducekmean_spark.operators.text import TOKEN_RE
    from mapreducekmean_spark.sources.bucketing import read_bucketed

    q_rows = queries.select("q_id", "text").collect()
    pairs = []
    for r in q_rows:
        terms = sorted(set(re.findall(TOKEN_RE, (r.text or "").lower())))
        if not terms:
            raise ValueError(f"empty query (q_id={r.q_id})")
        pairs.extend((int(r.q_id), t) for t in terms)
    all_terms = sorted({t for _, t in pairs})

    st = spark.table(f"{name}_stats").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_dl").alias("total_dl"),
    ).collect()[0]
    n_docs = int(st["n_docs"] or 0)
    if n_docs == 0:
        raise ValueError(f"BM25 index {name!r} is empty")
    avgdl = int(st["total_dl"]) / n_docs

    # ONE bucket-pruned pass over the union of every query's terms
    tf = read_bucketed(spark, f"{name}_tf").filter(
        F.col("term").isin(all_terms)
    )
    # idf stays a JVM expression (log's last ulp must match the
    # per-query path) — collected driver-side, bounded by the batch's
    # distinct terms.
    idf_rows = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "term",
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
        .collect()
    )
    terms_present = sorted(r.term for r in idf_rows)
    t_idx = {t: i for i, t in enumerate(terms_present)}
    term_df = local_rows_df(spark, 
        [(r.term, t_idx[r.term], float(r.idf)) for r in idf_rows],
        "term string, t_i int, idf double",
    )

    import numpy as np

    q_ids = sorted({q for q, _ in pairs})
    q_pos = {q: i for i, q in enumerate(q_ids)}
    nq = len(q_ids)
    member = np.zeros((len(terms_present), nq))
    for q, t in pairs:
        ti = t_idx.get(t)
        if ti is not None:
            member[ti, q_pos[q]] = 1.0
    bc = spark.sparkContext.broadcast(
        (member, np.array(q_ids, dtype=np.int64))
    )

    # query-independent contribution, once per posting (JVM codegen —
    # the per-query path's exact expression), shuffled narrow by doc
    narrow = (
        tf.join(F.broadcast(term_df), "term")
        .select(
            "doc_id",
            "t_i",
            (
                F.col("idf")
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))
                )
            ).alias("contrib"),
        )
        .repartition("doc_id")
    )

    def task_topn(batches):
        import numpy as np
        import pandas as pd

        M, qid_arr = bc.value
        doc_l, ti_l, c_l = [], [], []
        for pdf in batches:
            if len(pdf):
                doc_l.append(pdf["doc_id"].to_numpy(np.int64))
                ti_l.append(pdf["t_i"].to_numpy(np.int64))
                c_l.append(pdf["contrib"].to_numpy(np.float64))
        if not doc_l:
            return
        doc = np.concatenate(doc_l)
        ti = np.concatenate(ti_l)
        contrib = np.concatenate(c_l)
        uniq, codes = np.unique(doc, return_inverse=True)
        out = []
        for qi in range(M.shape[1]):
            memb = M[ti, qi]
            cnt = np.bincount(
                codes, weights=memb, minlength=len(uniq)
            ).astype(np.int64)
            hit = cnt > 0
            if not hit.any():
                continue
            score = np.bincount(
                codes, weights=contrib * memb, minlength=len(uniq)
            )[hit]
            ds = uniq[hit]
            # per-task preselection orders by np.round; the emitted
            # score is the RAW sum — exact decimal rounding and the
            # global rank happen in Spark below
            order = np.lexsort((ds, -np.round(score, 6)))[:top_n]
            out.append(
                pd.DataFrame(
                    {
                        "q_id": qid_arr[qi],
                        "doc_id": ds[order],
                        "s": score[order],
                        "n_matched_terms": cnt[hit][order],
                    }
                )
            )
        if out:
            yield pd.concat(out, ignore_index=True)

    scored = narrow.mapInPandas(
        task_topn,
        "q_id bigint, doc_id bigint, s double, n_matched_terms bigint",
    ).withColumn("score", F.round(F.col("s"), 6))
    return top_k_per_query(
        scored, top_n, F.desc("score"), F.asc("doc_id")
    ).select("q_id", "doc_id", "score", "n_matched_terms", "rank")


# --- hybrid retrieval: reciprocal-rank fusion -----------------------------

#: Cormack/Clarke/Büttcher's standard RRF constant (SIGIR 2009).
RRF_K = 60


def rrf_fuse(
    rank_tables: list[DataFrame],
    k: int = 3,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of candidate lists: each input is a
    ``(q_id, doc_id, rank)`` frame (ranks 1-based integers), the fused
    score is ``Σ 1/(rrf_k + rank)`` over the lists where the candidate
    appears (Cormack, Clarke, Büttcher, SIGIR 2009 — the standard
    sparse+dense composition of a RAG stack). Rank arithmetic is EXACT:
    1/(60 + r) is one correctly-rounded IEEE division of small
    integers and the terms add in the lists' declared order, so two
    engines given the same rank tables produce bit-identical fused
    scores — which is what makes :func:`hybrid_topk` fully
    value-hash-oracle-able while raw BM25 (ln-based) is not.

    Output: (q_id, doc_id, rank, rrf_score rounded to 6 dp), top ``k``
    per query by fused score desc, doc_id tie-break. Scales as an
    N-way join on (q_id, doc_id) over candidate lists that are already
    per-query bounded (top-n each) — never corpus-sized."""
    if not rank_tables:
        raise ValueError("rrf_fuse needs at least one rank table")
    fused = None
    for i, t in enumerate(rank_tables):
        t = t.select("q_id", "doc_id", F.col("rank").alias(f"_r{i}"))
        fused = t if fused is None else fused.join(
            t, ["q_id", "doc_id"], "full"
        )
    score = None
    for i in range(len(rank_tables)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col(f"_r{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return top_k_per_query(
        fused.withColumn("rrf_raw", score),
        k,
        F.col("rrf_raw").desc(),
        F.col("doc_id").asc(),
    ).select(
        "q_id", "doc_id", "rank", F.round("rrf_raw", 6).alias("rrf_score")
    )


def lexical_overlap_ranks(
    docs: DataFrame, n_queries: int, n_cand: int
) -> DataFrame:
    """Per-query lexical candidate list by EXACT integer arithmetic:
    distinct-token overlap between the query document's text and every
    other document, ranked (overlap desc, doc_id asc), top ``n_cand``.
    The integer ranks are what the fully-oracle-able hybrid query
    fuses; production stacks swap in :func:`bm25_search_indexed` ranks
    via the same ``rrf_fuse`` (pinned in tests/test_search.py)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens("text"))).alias("tok"),
    )
    q = toks.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("q_id"), "tok"
    )
    ov = (
        toks.join(F.broadcast(q), "tok")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.count("*").alias("overlap"))
    )
    return top_k_per_query(
        ov, n_cand, F.col("overlap").desc(), F.col("doc_id").asc()
    ).select("q_id", "doc_id", "rank", "overlap")


def hybrid_topk(
    spark,
    sf_dir: str,
    k: int = 3,
    n_cand: int = 20,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid (sparse + dense) retrieval for the standard query batch:
    RRF-fuse the lexical overlap candidates over ``documents`` with the
    cosine candidates over ``embeddings`` (doc_id == vec_id in the
    fixtures, as in a real corpus where both indexes key the same
    document). Declared with a full DuckDB twin — the fusion arithmetic
    is exact (see :func:`rrf_fuse`), the lexical ranks are integer
    counts, and the dense ranks carry the same accepted cross-engine
    noise class as the long-green ``cosine_topk``."""
    from mapreducekmean_spark.operators.similarity import (
        N_QUERIES,
        cosine_topk,
    )
    from mapreducekmean_spark.operators.text import documents

    lex = lexical_overlap_ranks(
        documents(spark, sf_dir), N_QUERIES, n_cand
    )
    dense = cosine_topk(spark, sf_dir, k=n_cand).select(
        "q_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, dense], k, rrf_k)


def overlap_ratio_scorer(q_texts, d_texts):
    """The DEFAULT rerank scorer — a deterministic lexical stand-in,
    NOT a neural cross-encoder: |q∩d| / |q∪d| over distinct token
    sets, computed per pair in plain Python over the Arrow batch.
    Real deployments pass ``scorer=`` wrapping their model (ONNX /
    torch session loaded once per executor via the closure); the
    engine-side contract — Arrow batching, pair schema, deterministic
    tie-break — is identical either way and is what the tests pin."""
    import re

    from mapreducekmean_spark.operators.text import TOKEN_RE

    out = []
    for q, d in zip(q_texts, d_texts):
        qt = set(re.findall(TOKEN_RE, (q or "").lower()))
        dt = set(re.findall(TOKEN_RE, (d or "").lower()))
        out.append(len(qt & dt) / len(qt | dt) if qt | dt else 0.0)
    return out


def cross_encoder_rerank(
    candidates: DataFrame,
    docs: DataFrame,
    k: int = 3,
    scorer=None,
    q_texts: DataFrame | None = None,
) -> DataFrame:
    """The rerank stage of the retrieval chain (retrieve → fuse →
    rerank): join each (q_id, doc_id) candidate with both texts and
    score the PAIR with an Arrow-batched ``mapInPandas`` pass — the
    cross-encoder shape, where query and document are scored jointly
    rather than matched in a precomputed index. Output: (q_id, doc_id,
    rank, ce_score rounded to 6 dp), top ``k`` per query by score
    desc, doc_id tie-break.

    Scale shape: candidates arrive ALREADY per-query bounded (the
    fuser's top-n), so the pair join, the Python scoring batches, and
    the final window all move n_queries × n_cand rows — never the
    corpus. The scorer runs executor-side over Arrow record batches
    (the multimodal codec discipline: payloads never transit the
    driver); the default is an honest deterministic stand-in
    (:func:`overlap_ratio_scorer`), swapped for a real model by
    passing ``scorer=``.

    Query texts default to looking the q_ids up in ``docs`` (the
    queries-are-corpus-docs fixture convention); pass ``q_texts`` as a
    bounded ``(q_id, q_text)`` frame when queries are free-standing
    strings, as in :func:`serve_retrieval`."""
    import pandas as pd

    if scorer is None:
        scorer = overlap_ratio_scorer
    # the candidate set is bounded by construction (the fuser's top-n
    # per query), so its ids collect cheaply and push into the docs
    # scan as literal filters — without this the text joins would scan
    # the whole corpus per rerank batch (measured: the 500k-doc
    # retrieval probe's serve path)
    cand_rows = candidates.select("q_id", "doc_id").collect()
    q_ids = sorted({r.q_id for r in cand_rows})
    d_ids = sorted({r.doc_id for r in cand_rows})
    texts = docs.select("doc_id", "text")
    if q_texts is None:
        q_texts = texts.filter(F.col("doc_id").isin(q_ids)).select(
            F.col("doc_id").alias("q_id"), F.col("text").alias("q_text")
        )
    else:
        q_texts = q_texts.select("q_id", "q_text")
    pairs = (
        candidates.select("q_id", "doc_id")
        .join(F.broadcast(q_texts), "q_id")
        .join(F.broadcast(texts.filter(F.col("doc_id").isin(d_ids))), "doc_id")
        .withColumnRenamed("text", "d_text")
    )

    def score(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"],
                    "doc_id": pdf["doc_id"],
                    "ce_raw": scorer(pdf["q_text"], pdf["d_text"]),
                }
            )

    scored = pairs.mapInPandas(
        score, "q_id bigint, doc_id bigint, ce_raw double"
    )
    return top_k_per_query(
        scored, k, F.col("ce_raw").desc(), F.col("doc_id").asc()
    ).select("q_id", "doc_id", "rank", F.round("ce_raw", 6).alias("ce_score"))


def serve_retrieval(
    spark,
    queries: DataFrame,
    bm25_name: str,
    ivf_path: str,
    docs: DataFrame,
    k: int = 3,
    n_cand: int = 10,
    nprobe: int | None = None,
    rrf_k: int = RRF_K,
    exclude_self: bool = False,
    scorer=None,
    dense_kind: str = "ivf",
) -> DataFrame:
    """The composed serving chain over the LANDED indexes — retrieve →
    fuse → rerank as ONE operator, the loop a RAG stack runs per query
    batch: sparse candidates from the term-bucketed BM25 index in one
    bucket-pruned pass (:func:`bm25_search_indexed_batch`), dense
    candidates from the cell-partitioned vector index in one partition-
    pruned pass with the batch's own query vectors
    (``dense_kind="ivf"`` → ``similarity.ann_ivf_indexed`` over raw
    vectors; ``"ivfpq"`` → ``pq.ann_ivfpq_indexed`` over the
    compressed IVFADC store, the read-volume choice at 100 TB),
    reciprocal-rank fusion (:func:`rrf_fuse`), and a
    cross-encoder-shaped rerank of the fused top-``n_cand``
    (:func:`cross_encoder_rerank`, query texts from the batch itself).

    ``queries`` is a bounded ``(q_id, text, q_emb)`` frame. The corpus
    is touched only through the two indexes' pruned scans and the
    rerank's candidate-id-filtered text lookups — serving cost scales
    with the batch and the pruned read volume, never the corpus (the
    500k-doc `--only retrieval` probe in SCALE.md measures exactly
    this composition). ``exclude_self`` drops candidates whose doc_id
    equals their q_id before fusion — for evaluation setups where the
    query batch is drawn from the corpus itself. q_ids must not
    collide with corpus doc_ids otherwise (the dense path's self-join
    guard keys on id equality — the engine-wide doc_id == vec_id
    convention).

    Output: (q_id, doc_id, rank, ce_score), top ``k`` per query."""
    if dense_kind == "ivf":
        from mapreducekmean_spark.operators.similarity import (
            ann_ivf_indexed as dense_fn,
        )
    elif dense_kind == "ivfpq":
        from mapreducekmean_spark.operators.pq import (
            ann_ivfpq_indexed as dense_fn,
        )
    else:
        raise ValueError(
            f"dense_kind must be 'ivf' or 'ivfpq', got {dense_kind!r}"
        )

    queries = queries.localCheckpoint()  # bounded; read by three stages
    top_s = n_cand + 1 if exclude_self else n_cand
    sparse = bm25_search_indexed_batch(
        spark, queries.select("q_id", "text"), bm25_name, top_n=top_s
    )
    if exclude_self:
        sparse = top_k_per_query(
            sparse.filter(F.col("doc_id") != F.col("q_id")),
            n_cand,
            F.col("rank").asc(),
        )
    dense = dense_fn(
        spark,
        "",  # unused: qs supplied
        ivf_path,
        k=n_cand,
        qs=queries.select("q_id", "q_emb"),
        **({"nprobe": nprobe} if nprobe is not None else {}),
    ).select("q_id", F.col("neighbor_id").alias("doc_id"), "rank")
    fused = rrf_fuse(
        [sparse.select("q_id", "doc_id", "rank"), dense],
        k=n_cand,
        rrf_k=rrf_k,
    ).localCheckpoint()  # bounded; rerank reads it twice (ids + join)
    return cross_encoder_rerank(
        fused,
        docs,
        k=k,
        scorer=scorer,
        q_texts=queries.select(
            "q_id", F.col("text").alias("q_text")
        ),
    )


def bm25_index_stats(spark, name: str, top_n: int = 20) -> DataFrame:
    """Occupancy/monitoring row for the LEXICAL landed index — the
    ``ivf_cell_stats``/``ivfpq_cell_stats`` parity for BM25: the
    numbers an operator watches to size compaction and spot
    degenerate postings (a stopword-like term whose df approaches
    n_docs contributes near-zero idf but dominates bucket volume —
    the signal to stoplist it at land time). Per heavy term (top
    ``top_n`` by df DESC, term ASC): ``(term, df, tf_total, rank)``
    plus the corpus context every monitoring read wants beside them —
    ``n_docs`` and ``avgdl``, derived from the INTEGER stats log (one
    IEEE division, 6 dp).

    Reads the postings + stats tables only, never the corpus. The
    term-grain aggregate lands on the term-bucketed scan's own
    partitioning, and the top-n is ``orderBy(...).limit(n)`` — Spark
    plans TakeOrderedAndProject, a DISTRIBUTED top-k (each task ships
    its local top ``top_n``), never a single-partition global window
    over the vocabulary."""
    tf = spark.table(f"{name}_tf")
    stats = spark.table(f"{name}_stats").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_dl").cast("bigint").alias("total_dl"),
    )
    per_term = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("tf_total"),
    )
    top = per_term.orderBy(
        F.col("df").desc(), F.col("term").asc()
    ).limit(int(top_n))
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "df",
            "tf_total",
            "rank",
            "n_docs",
            F.round(
                F.col("total_dl").cast("double") / F.col("n_docs"), 6
            ).alias("avgdl"),
        )
    )


def purge_bm25_docs(
    spark, name: str, doc_ids: list[int]
) -> dict[str, int]:
    """Right-to-be-forgotten for the THIRD landed index family: delete
    documents from the BM25 postings — the purge surface the vector
    stores (``similarity.purge_ivf_keys``) and the kb= snapshots
    (``cdc.purge_snapshot_keys``) already have. A purged doc must
    disappear from results AND from the ranking arithmetic: its
    postings rows carry its tf/dl, and the integer stats log carries
    its n_docs/total_dl share — both go.

    Mechanics — a FILTERED COMPACTION, deliberately the same
    maintenance discipline (and crash stance) as
    :func:`compact_bm25_index`: the kept postings rewrite beside the
    data under the same bucket/sort spec and swap in by rename; the
    stats log collapses to one summary row with the purged docs'
    integer share subtracted, swapped the same way. Scores against
    the purged index are BIT-identical to a fresh land of the
    remaining corpus (integer subtraction is exact; df drops with the
    rows; avgdl re-derives from the adjusted integer totals — pinned
    in tests/test_search.py). Idempotent: re-purging finds no rows,
    subtracts zero, rewrites unchanged.

    Why table-granular instead of the snapshot purge's touched-bucket
    copy-on-write: postings bucket by TERM, and one document's terms
    hash across essentially every bucket (hundreds of distinct terms
    vs a handful of buckets), so bucket-level surgery degenerates to
    a full rewrite anyway — batch deletion requests and run this at
    the maintenance window, like compaction. The purged docs' dl/count
    come FROM the index itself (one column-pruned postings scan,
    output bounded by the purged docs' posting rows), so the caller
    needs only ids; the one unrepresentable case is a ZERO-TOKEN doc
    (no postings rows, so its n_docs share cannot be located) — its
    +1 residue in n_docs persists until a full re-land, stated here
    rather than hidden. Don't run concurrently with appends."""
    import os
    import shutil
    import urllib.parse

    from mapreducekmean_spark.sources.bucketing import write_bucketed

    for t in (f"{name}_tf", f"{name}_stats"):
        if not spark.catalog.tableExists(t):
            raise ValueError(
                f"purge_bm25_docs: {t} is not registered in this "
                f"session's catalog — attach_bm25_index first."
            )
    ids = [int(i) for i in doc_ids]
    if not ids:
        return {"docs_purged": 0, "rows_deleted": 0}
    tf = spark.table(f"{name}_tf")
    # the purged docs' integer share, read off the index itself:
    # (doc_id, dl) is repeated per posting row — one row per doc after
    # the distinct; bounded by the purged docs' posting volume
    purged = (
        tf.filter(F.col("doc_id").isin(ids))
        .select("doc_id", "dl")
        .distinct()
        .collect()
    )
    n_purged = len(purged)
    dl_purged = sum(int(r.dl) for r in purged)
    n_rows = tf.filter(F.col("doc_id").isin(ids)).count()

    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {name}_tf"
        ).collect()
    }
    tf_path = urllib.parse.urlparse(desc.get("Location", "")).path
    buckets = int(desc["Num Buckets"])
    tmp_table = f"{name}_tf__purging"
    tmp_path = f"{tf_path}.__purge"
    # same scoped conf as compact_bucketed: bucket-aware scan keeps the
    # rewrite a shuffle-free per-bucket local pass
    abs_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    abs_old = spark.conf.get(abs_key)
    spark.conf.set(abs_key, "false")
    try:
        write_bucketed(
            tf.filter(~F.col("doc_id").isin(ids)),
            tmp_table,
            "term",
            buckets,
            tmp_path,
        )
    finally:
        spark.conf.set(abs_key, abs_old)
    spark.sql(f"DROP TABLE {tmp_table}")  # external: files stay
    old = f"{tf_path}.__old"
    os.rename(tf_path, old)
    os.rename(tmp_path, tf_path)
    shutil.rmtree(old)
    spark.sql(f"REFRESH TABLE {name}_tf")

    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}_stats")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    )
    stats_path = urllib.parse.urlparse(loc).path or loc
    summary = spark.table(f"{name}_stats").agg(
        F.max("max_doc_id").alias("mx"),
        F.sum("n_docs").alias("n"),
        F.sum("total_dl").alias("t"),
    ).collect()[0]
    stats_tmp = f"{stats_path}.__purge"
    (
        local_rows_df(
            spark,
            [
                (
                    int(summary["mx"]),
                    int(summary["n"] or 0) - n_purged,
                    int(summary["t"] or 0) - dl_purged,
                )
            ],
            "max_doc_id bigint, n_docs bigint, total_dl bigint",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(stats_tmp)
    )
    stats_old = f"{stats_path}.__old"
    os.rename(stats_path, stats_old)
    os.rename(stats_tmp, stats_path)
    shutil.rmtree(stats_old)
    spark.sql(f"REFRESH TABLE {name}_stats")
    return {"docs_purged": n_purged, "rows_deleted": int(n_rows)}


def compact_bm25_index(spark, name: str) -> dict[str, dict]:
    """Small-file maintenance for the landed BM25 index: the postings
    table compacts back to its one-file-per-bucket grain
    (``sources.compact_bucketed``), and the stats APPEND LOG — one
    tiny delta row per land/append — collapses to a single summary row
    ``(max(max_doc_id), sum(n_docs), sum(total_dl))``. The collapse is
    semantics-preserving by construction: readers SUM the log (integer
    sums are associative) and the append replay guard keys on
    ``max(max_doc_id)``, both of which one summary row reproduces
    exactly. The new stats land beside the old and swap in by rename
    (same discipline as compact_bucketed; don't run concurrently with
    appends). Returns per-part file counts."""
    import os
    import shutil
    import urllib.parse

    from mapreducekmean_spark.sources.bucketing import compact_bucketed

    tf_stats = compact_bucketed(spark, f"{name}_tf")
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}_stats")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    )
    stats_path = urllib.parse.urlparse(loc).path or loc

    def count_files(p):
        return sum(
            1
            for _r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith(("_", "."))
        )

    files_before = count_files(stats_path)
    summary = spark.table(f"{name}_stats").agg(
        F.max("max_doc_id").alias("max_doc_id"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_dl").alias("total_dl"),
    ).collect()[0]
    tmp = f"{stats_path}.__compact"
    (
        local_rows_df(spark, 
            [
                (
                    int(summary["max_doc_id"]),
                    int(summary["n_docs"] or 0),
                    int(summary["total_dl"] or 0),
                )
            ],
            "max_doc_id bigint, n_docs bigint, total_dl bigint",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    old = f"{stats_path}.__old"
    os.rename(stats_path, old)
    os.rename(tmp, stats_path)
    shutil.rmtree(old)
    spark.sql(f"REFRESH TABLE {name}_stats")
    return {
        "tf": tf_stats,
        "stats": {
            "files_before": files_before,
            "files_after": count_files(stats_path),
        },
    }
