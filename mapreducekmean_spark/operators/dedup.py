"""Deduplication suite over ``documents`` (and embeddings) — the core
LLM-pretraining-pipeline operators (BASELINE.json north star): exact dedup,
MinHash+LSH, SimHash, and n-gram Jaccard verification.

Everything is built from codegen'd higher-order functions and md5 hashing,
so every stage is (a) Python-UDF-free and (b) exactly reproducible in the
DuckDB oracles: MinHash signatures take the **lexicographic min of md5 hex
strings** per seed (identical in both engines) instead of integer hashing,
because Spark's and DuckDB's native hash functions differ.

Scale design:
- Exact dedup: hash-groupBy on a 32-byte digest — one shuffle keyed by
  digest, partial-agg friendly, no skew (md5 is uniform).
- MinHash LSH: per-row signature computation is a narrow projection; the
  candidate-pair join shuffles on (band, bucket) — uniform md5 buckets, so
  no hot keys; true-Jaccard verification runs only on bucket-collided
  candidates, never all-pairs. This is the standard shingle→minhash→band→
  bucket-join pipeline, O(n) instead of O(n²).
- SimHash: fixed-width bit-vote projection emitting band columns; it
  runs no join of its own.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from mapreducekmean_spark.functions.skew import shuffle_width
from mapreducekmean_spark.operators.text import documents, tokens

#: MinHash configuration: 8 permutations → 4 bands × 2 rows.
N_HASHES = 8
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

#: Hot-bucket bound for every banded near-dup self-join (MinHash LSH
#: and the dHash/video matchers): a bucket with more rows than this
#: degrades from the candidate clique to a star — contract at
#: :func:`_banded_self_join`.
LSH_MAX_BUCKET = 1024

#: SimHash: 32 bits (one per md5 hex nibble's high bit).
SIMHASH_BITS = 32
HI_NIBBLES = ("8", "9", "a", "b", "c", "d", "e", "f")


def normalized_text(col: str = "text") -> Column:
    """Whitespace-collapsed lowercase text — the exact-dup key."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy on md5(normalized text): one group row
    per distinct content, keeping the smallest doc_id as canonical."""
    return (
        docs.select("doc_id", F.md5(normalized_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_apply(docs: DataFrame) -> DataFrame:
    """The *apply* stage of exact dedup: the corpus with non-canonical
    duplicates removed (left-semi join against the keep set — the second
    half of the identify→apply pipeline every dedup run ends with).
    One aggregation + one semi join, both keyed on uniform md5 values."""
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


def dedup_apply_best(docs: DataFrame) -> DataFrame:
    """Exact-dedup apply with QUALITY-ARGMAX canonical selection — keep
    the highest-quality copy of each duplicate group instead of the
    min-id one. This is how production corpus dedup actually picks the
    survivor (copies of the same content differ in extraction quality:
    boilerplate, truncation, encoding damage); ``dedup_apply``'s min-id
    rule is the cheap default, this is the quality-aware variant.

    Per content group (md5 of whitespace-normalized lowercase text, the
    same key as :func:`exact_dedup`): keep the copy maximizing
    ``(quality, -doc_id)`` — quality DESC (``text.quality_score``'s
    6-dp score, engine-exact so the ordering is too) with doc_id ASC
    as the deterministic tie-break. Output
    ``(doc_id, content_hash, n_copies, quality)`` for kept docs only.

    Scale shape: the quality score (``text.with_quality`` — one
    tokenize per row) and the
    content hash come out of ONE map-side projection — there is NO join
    anywhere in the plan (plan-pinned:
    ``tests/test_plans.py::test_dedup_apply_best_hash_agg_no_sort``).
    Re-attaching ``quality_score(docs)`` via a ``doc_id`` join — the
    shape this operator had before round 12 — is a corpus×corpus
    self-join that AQE broadcasts at fixture scale but degrades to a
    corpus-volume sort-merge shuffle at 100 TB (r11 verdict). The
    argmax is ONE aggregate. The ``(quality DESC,
    doc_id ASC)`` selection rule is order-embedded into a single
    bigint — ``round(quality·10⁶)·10¹² − doc_id`` (quality is a 6-dp
    score in [0,1], so the scaled value is integer-exact; distinct
    quality levels are ≥ 10¹² apart while doc_ids span < 10¹², so the
    embedding is strictly order-preserving) — making the argmax a
    plain ``max(bigint)``: whole-stage-codegen HashAggregate with
    map-side partial aggregation and NO sort anywhere (``max`` over a
    struct would fall back to SortAggregate, paying a per-task sort on
    the md5 key). A boilerplate page duplicated millions of times
    ships one partial max + one partial count per map task through the
    uniform-md5-keyed exchange, never its full mass.

    Preconditions (checked row-side via ``raise_error``, codegen'd
    branches): ``0 ≤ doc_id < 10¹²``; quality non-null — a zero-token
    document's 0/0 quality would be NULL, which ``max`` would silently
    skip, emitting a NULL-doc_id row for an all-NULL group (and
    diverging from the DuckDB oracle's ``NULLS LAST`` row_number). A
    zero-token doc now FAILS LOUDLY either way (r11 advice): under
    ANSI mode (Spark 4 default) the quality expression's division
    raises ``DIVIDE_BY_ZERO`` first; under non-ANSI the division
    yields NULL and the ``raise_error`` guard fires. Filter empty docs
    before calling.
    """
    from mapreducekmean_spark.operators.text import with_quality

    d = with_quality(docs).select(
        "doc_id",
        F.md5(normalized_text()).alias("content_hash"),
        "quality",
    )
    id_bound = 1_000_000_000_000
    q_int = F.round(F.col("quality") * 1_000_000).cast("bigint")
    key = (
        F.when(
            F.col("quality").isNull(),
            F.raise_error(
                F.lit(
                    "dedup_apply_best: NULL quality (zero-token "
                    "document) would corrupt the argmax — filter "
                    "empty documents before the apply"
                )
            ).cast("bigint"),
        )
        .when(
            (F.col("doc_id") >= 0) & (F.col("doc_id") < id_bound),
            q_int * id_bound - F.col("doc_id"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "dedup_apply_best: doc_id outside [0, 1e12) breaks "
                    "the (quality, -doc_id) order embedding"
                )
            ).cast("bigint")
        )
    )
    best = d.groupBy("content_hash").agg(
        F.max(key).alias("best_key"),
        # the embedding is q_int-dominated, so the key-max winner's
        # quality level IS max(q_int) — recovering it as its own max
        # keeps the inversion in exact bigint arithmetic (a double
        # division of a ~10¹⁸ key would lose low bits, i.e. doc_id)
        F.max(q_int).alias("q_max"),
        F.count("*").cast("bigint").alias("n_copies"),
    )
    return best.select(
        (F.col("q_max") * id_bound - F.col("best_key")).alias("doc_id"),
        "content_hash",
        "n_copies",
        (F.col("q_max").cast("double") / 1_000_000).alias("quality"),
    )


def shingles(col: str = "text", n: int = 3) -> Column:
    """Token n-gram shingles (space-joined) as a PER-DOCUMENT ARRAY.
    Empty array when the document has fewer than ``n`` tokens.

    Built as ``n-1`` linear ``zip_with`` passes (pairwise concat against a
    shifted copy) instead of one ``slice``+``concat_ws`` per position.

    USE ``gram_rows`` FOR ANYTHING VOLUME-BOUND: every array-building
    higher-order function here is CodegenFallback — Spark evaluates the
    lambdas interpreted, per element — and the 500k-doc probe measured
    the row-form window builder 14× faster for identical values
    (SCALE.md r5). The array form remains for consumers that genuinely
    need per-doc positional arrays (winnowing's sliding windows,
    the blocked self-join's in-row array_intersect) at fixture scale."""
    t = tokens(col)
    s = t
    for j in range(1, n):
        shifted = F.slice(
            t, j + 1, F.greatest(F.size(t) - j, F.lit(0))
        )
        # F.concat → NULL when the shifted side runs out (zip_with pads
        # with NULL); those tail slots are trimmed by the final slice.
        s = F.zip_with(s, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    grams = F.slice(s, 1, F.size(t) - (n - 1))
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def gram_rows(
    docs: DataFrame,
    n: int = 3,
    col: str = "text",
    with_pos: bool = False,
    wide: bool = True,
) -> DataFrame:
    """Token ``n``-gram stream as ROWS — ``(doc_id, sh)``, one row per
    gram position (duplicates preserved; ``.distinct()`` downstream
    where set semantics are wanted). Documents with fewer than ``n``
    tokens contribute no rows, matching ``explode(shingles(...))``.

    This is the VOLUME-PATH gram builder: posexplode the token array,
    then stitch each gram from ``n-1`` window ``lead``s over (doc_id,
    pos). Everything — posexplode, lead, concat_ws, the downstream
    md5 — is ordinary codegen'd expression work; the array-building
    alternative (``shingles`` + explode) funnels every token through
    interpreted higher-order-function lambdas (CodegenFallback), which
    the 500k-doc probe measured at 14× the wall time for identical
    output (SCALE.md r5). Cost: ONE exchange of the token stream on
    uniform doc_id — and every aggregate keyed on doc_id downstream
    (MinHash mins, gram counts) reuses that partitioning, so the
    exchange is shared, not extra.

    ``with_pos=True`` additionally carries the gram's 0-based token
    position (for positional consumers like winnowing).

    NOT widened (optimization r14): a paired interleaved A/B of
    ``widen_narrow_scan`` on the (doc_id, text) projection measured a
    net LOSS across the gram consumers (bigram_lm +0.31 s,
    decontaminate +0.11 s, corpus_clean +0.17 s vs ~-0.1 s on the two
    heaviest) — the tokenizer is too cheap to pay the extra exchange,
    unlike the multimodal Arrow decode kernels where widening won 2-3x.

    The window exchange itself, however, is pinned at the session's
    configured shuffle width (an explicit ``repartition(W, doc_id)`` —
    the same hash partitioning the window would demand, so no second
    exchange and identical values): everything above it (lead-stitch,
    concat, the consumers' md5+min aggregates that reuse the
    partitioning) is CPU-bound per-gram work, exactly the case where
    AQE's byte-based coalescing misallocates (it packed the whole gram
    stream into 1-2 tasks at fixture scale). Paired interleaved A/B at
    sf0.1: dedup_minhash_sig 1.12→0.45 s, dedup_verify 2.22→1.52 s,
    corpus_clean 3.94→2.94 s, dedup_containment 2.21→1.49 s,
    ngram_jaccard −0.27 s, dedup_clusters ±0.1 s. At cluster scale the
    width IS spark.sql.shuffle.partitions — the ops-configured value —
    so nothing here is tuned to the local core count.

    ``wide=False`` keeps the AQE-coalesced width: for a consumer whose
    downstream is GRAM-keyed and cheap (bigram_lm: one groupBy(bg) off
    the stream, nothing reuses the doc_id partitioning) the pin
    measured +0.24 s paired — the one measured exception among the 14
    gram consumers (decontaminate_fuzzy/doc_lm_coverage measured WINS,
    −0.14/−0.15, so only bigram_lm opts out).

    PRECONDITION: ``doc_id`` uniquely identifies a row of ``docs``. The
    window stitches grams from consecutive rows of one doc_id
    partition; two DIFFERENT documents sharing an id would interleave
    nondeterministically (``orderBy(pos)`` ties) and yield
    cross-document garbage grams — a constraint the per-row
    ``explode(shingles(...))`` form did not have. All fixture tables
    satisfy it (doc_id is the primary key); synthesize a unique id
    (``monotonically_increasing_id``) before calling when the input
    lacks one, as ``text.bigram_lm`` does."""
    tok = docs.select(
        "doc_id", F.posexplode(tokens(col)).alias("pos", "w")
    )
    if wide:
        tok = tok.repartition(shuffle_width(docs), "doc_id")
    win = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("w")] + [F.lead("w", j).over(win) for j in range(1, n)]
    g = tok.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *parts).alias("sh"),
        F.lead("w", n - 1).over(win).alias("_last"),
    )
    out = g.filter(F.col("_last").isNotNull())
    cols = ["doc_id", "pos", "sh"] if with_pos else ["doc_id", "sh"]
    return out.select(*cols)


def minhash_signature(
    docs: DataFrame, shingled: DataFrame | None = None
) -> DataFrame:
    """Per-document MinHash signature: seed i's value is the lexicographic
    min over all shingles of the i-th 8-hex-char (32-bit) slice of
    ``md5('0:'||shingle) || md5('1:'||shingle)`` — "one permutation
    hashing"-style: two md5s supply 256 bits, sliced into 8 independent
    32-bit hash values per shingle. Hex-string min == numeric min (fixed
    width, lowercase hex), and both engines produce identical md5 hex, so
    the signature is cross-engine exact.

    Physical shape (r5): ``gram_rows`` (codegen'd window-lead gram
    stream) → TWO codegen'd md5s per gram (not the naive
    one-md5-per-seed = 8) → 8 cheap substrings → partial+final ``min``
    aggregate per doc. The groupBy(doc_id) lands on the partitioning
    the gram window already established, so the whole signature build
    pays exactly one exchange of the token stream; partial aggregation
    shrinks it to 8×8 hex chars per doc before any wire transfer. The
    r1-r4 array/HOF formulations computed identical values through
    interpreted lambda evaluation — 10-14× slower at the 500k-doc
    probe (SCALE.md r5).

    Docs with zero shingles (< n tokens) produce no row, matching the
    DuckDB twin's ``len(toks) >= 3``.

    ``shingled`` (optional): a pre-materialized ``(doc_id, sh)`` ROW
    table (``gram_rows`` output) — pipelines that already built one
    (e.g. the verification stage) pass it so the tokenize→gram pass
    runs once. A distinct-gram table is equally valid input: ``min``
    is duplicate-insensitive, so the signature is identical.
    """
    if shingled is None:
        shingled = gram_rows(docs)
    hashed = shingled.select(
        "doc_id",
        F.concat(
            F.md5(F.concat(F.lit("0:"), F.col("sh"))),
            F.md5(F.concat(F.lit("1:"), F.col("sh"))),
        ).alias("h"),
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", i * 8 + 1, 8)).alias(f"mh{i}")
            for i in range(N_HASHES)
        ]
    )


def minhash_bands(
    docs: DataFrame, shingled: DataFrame | None = None
) -> DataFrame:
    """LSH banding: bucket = md5 of the concatenated band rows.
    Output: (doc_id, band, bucket) — the join key space for candidates."""
    sig = minhash_signature(docs, shingled)
    rows = []
    for b in range(N_BANDS):
        parts = [
            F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)
        ]
        rows.append(
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(F.concat_ws("|", *parts)).alias("bucket"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*rows)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _banded_self_join(
    bands: DataFrame,
    keys: list[str],
    carry: dict[str, str],
    max_bucket_rows: int,
) -> DataFrame:
    """The guarded banded self-join every near-dup matcher runs (MinHash
    LSH here, image/audio dHash and video frames in ``multimodal``):
    rows of ``bands`` with equal ``keys`` (``band, bucket`` or
    ``k, bv``) pair up. ``carry`` maps each carried column to its output
    stem; the output holds ``{stem}_a`` and ``{stem}_b`` per column,
    distinct, oriented on the FIRST carried column (the id):
    ``first_a < first_b``. ``bands`` is read three times (guard and both
    join sides), so callers pass a checkpointed frame or a narrow
    projection of one.

    Hot-bucket guard: a flood of identical items (byte-identical docs
    that skipped the staged exact dedup, thousands of identical images
    or clips) collapses into one bucket per band and makes the
    self-join quadratic in it. Buckets over ``max_bucket_rows``
    therefore degrade from the candidate CLIQUE to a STAR: every member
    pairs with the bucket minimum (``canon``, the min over the carried
    columns, id first), ``first != canon``. The star is linear in
    bucket size and lossless for the mass that causes it: identical
    items verify against the center, and connected components
    (``dedup_clusters``) group the whole bucket through it. The only
    edges dropped are between NON-center members of an oversized bucket
    — pairs the staged pipeline (exact dedup first,
    ``pipeline.corpus_clean``) never produces; with every bucket under
    the cap the output is identical to the uncapped clique (pinned in
    tests/test_edge_cases.py). The oversized-bucket list is one
    map-side-combinable aggregate, collected driver-side (bounded:
    ≤ band_rows / cap entries, zero on any exact-deduped corpus — sf0.1
    fixture max bucket: 12), so the common all-clear case keeps the
    two-table plan with no extra joins; otherwise a broadcast
    ``left_anti`` join drops the oversized buckets from the clique and
    a broadcast join builds the star."""
    cols = list(carry)
    first = cols[0]
    # a lone id keeps min(long), which plans as HashAggregate; min(struct)
    # plans as SortAggregate, so it is used only when carrying more
    canon = F.min(first) if len(cols) == 1 else F.min(F.struct(*cols))
    # bounded driver state: ≤ band_rows / max_bucket_rows entries
    over_rows = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"), canon.alias("canon"))
        .filter(F.col("n") > int(max_bucket_rows))
        .collect()
    )
    small = bands
    if over_rows:
        types = dict(bands.dtypes)
        over = bands.sparkSession.createDataFrame(
            [
                (*(r[k] for k in keys),
                 *(r["canon"] if len(cols) > 1 else (r["canon"],)))
                for r in over_rows
            ],
            ", ".join(
                [f"{k} {types[k]}" for k in keys]
                + [f"c_{s} {types[c]}" for c, s in carry.items()]
            ),
        )
        small = bands.join(
            F.broadcast(over.select(*keys)), keys, "left_anti"
        )
    a = small.alias("a")
    b = small.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col(f"a.{first}") < F.col(f"b.{first}"))
    clique = a.join(b, reduce(Column.__and__, on)).select(
        *[F.col(f"a.{c}").alias(f"{s}_a") for c, s in carry.items()],
        *[F.col(f"b.{c}").alias(f"{s}_b") for c, s in carry.items()],
    )
    if not over_rows:
        return clique.distinct()
    star = (
        bands.join(F.broadcast(over), keys)
        .filter(F.col(first) != F.col(f"c_{carry[first]}"))
        .select(
            *[F.col(f"c_{s}").alias(f"{s}_a") for s in carry.values()],
            *[F.col(c).alias(f"{s}_b") for c, s in carry.items()],
        )
    )
    return clique.unionByName(star).distinct()


def minhash_candidate_pairs(
    docs: DataFrame,
    shingled: DataFrame | None = None,
    bands: DataFrame | None = None,
    max_bucket_rows: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs ``(doc_a, doc_b)``: docs sharing any
    (band, bucket), deduped. Shuffles on uniform md5 buckets — never
    all-pairs. Buckets over ``max_bucket_rows`` degrade to a star: the
    guard contract is stated once, at :func:`_banded_self_join`.

    The band table is localCheckpoint'd before the self-join: Spark plans
    a self-join as two independent subtrees, so without materialization
    the full shingle→md5→min signature pipeline runs twice (measured 2.4×
    slower). At cluster scale this is the standard
    materialize-signatures-then-join pipeline (``dedup_minhash_sig`` is
    that stage standalone); the checkpoint is its in-session form.
    ``bands``: an already-CHECKPOINTED band table, for callers (the
    incremental delta path) that built one — passing it skips the whole
    signature rebuild, not just the tokenize pass."""
    if bands is None:
        bands = minhash_bands(docs, shingled).localCheckpoint()
    return _banded_self_join(
        bands, ["band", "bucket"], {"doc_id": "doc"}, max_bucket_rows
    )


def _jaccard(sa: Column, sb: Column) -> Column:
    """Jaccard over distinct shingle sets, as pure array expressions."""
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_distinct(sa)) + F.size(F.array_distinct(sb)) - inter
    return inter.cast("double") / union


def ngram_jaccard_pairs(docs: DataFrame, window: int = 3) -> DataFrame:
    """True n-gram Jaccard over a deterministic blocking window (same
    lang, doc_id within ``window``) — the verification stage a MinHash
    pipeline runs on candidates, demonstrated on a non-empty block."""
    base = docs.select(
        "doc_id", "lang", F.array_distinct(shingles()).alias("sh")
    ).filter(F.size("sh") > 0)
    # Self-join: Spark plans the two sides as independent subtrees, so
    # the tokenize→shingle→distinct pipeline would run twice; localCheckpoint
    # materializes it once (the same materialize-signatures-then-join
    # pattern as minhash_candidate_pairs).
    base = base.localCheckpoint()
    # Range-blocked join as an EQUI hash join: bucket doc_ids into
    # ``window``-sized blocks; a pair (a < b <= a+window) always lands in
    # a's block or the next one, so the left side emits two block keys and
    # the join is a plain shuffle/broadcast hash join on (lang, blk) —
    # never the O(n²) nested loop the raw range predicate would plan.
    # floor division (cast would truncate toward zero — wrong blocks for
    # negative ids); fixture ids are small, so the double division is
    # exact well past any realistic id range.
    blk = F.floor(F.col("doc_id") / window).cast("bigint")
    a = base.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        F.col("sh").alias("sh_a"),
        F.explode(F.array(blk, blk + 1)).alias("blk"),
    ).alias("a")
    b = base.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        F.col("sh").alias("sh_b"),
        blk.alias("blk"),
    ).alias("b")
    pairs = a.join(b, ["lang", "blk"]).filter(
        (F.col("doc_a") < F.col("doc_b"))
        & (F.col("doc_b") <= F.col("doc_a") + window)
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    )


#: Verification threshold for the end-to-end MinHash pipeline: a
#: candidate pair is a confirmed duplicate when its true shingle-set
#: Jaccard reaches this value.
VERIFY_THRESHOLD = 0.5


def minhash_verified_dedup(
    docs: DataFrame, threshold: float = VERIFY_THRESHOLD
) -> DataFrame:
    """The complete MinHash dedup pipeline a pretraining run executes,
    end-to-end: LSH candidate pairs → true n-gram Jaccard scored on
    exactly those candidates → threshold filter → per-document verdict.

    Output: one row per document — ``(doc_id, kept, dup_of)``. A
    document is dropped (``kept = false``) when it is the higher id of
    any verified pair; ``dup_of`` is the smallest verified lower-id
    partner (its canonical). This pairwise keep-lowest policy is
    deterministic and needs no iterative connected-components pass; the
    trade-off (a chain a~b, b~c with a≁c still drops both b and c) is
    the standard one-pass dedup semantics.

    Scale shape: candidates come from the banded bucket join (uniform
    md5 keys, never all-pairs); true Jaccard runs only on that candidate
    set via two hash joins back to the once-materialized distinct-shingle
    table; the verdict is a left join of the (small) drop list onto the
    corpus keyed by doc_id.
    """
    dup_of = (
        verified_pairs(docs, threshold)
        .groupBy("doc_b")
        .agg(F.min("doc_a").alias("dup_of"))
        .withColumnRenamed("doc_b", "doc_id")
    )
    return (
        docs.select("doc_id")
        .join(dup_of, "doc_id", "left")
        .select("doc_id", F.col("dup_of").isNull().alias("kept"), "dup_of")
    )


def verified_pairs(
    docs: DataFrame,
    threshold: float = VERIFY_THRESHOLD,
    shingled: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """The verified-duplicate edge list: LSH candidates scored by true
    Jaccard, thresholded. Shared plumbing for the verdict
    (``minhash_verified_dedup``) and cluster (``duplicate_clusters``)
    outputs.

    r5 shape: the distinct-gram table is built ONCE as rows
    (``gram_rows`` — codegen'd window leads, see its docstring),
    checkpointed, and feeds BOTH the signature/banding stage and the
    verification stage. True Jaccard is a COUNTING JOIN, not an in-row
    ``array_intersect``: |A∩B| = count of (doc_a, doc_b, gram) matches
    through two hash joins against the gram table, |A∪B| = n_a + n_b −
    |A∩B| from the per-doc gram counts. Every step is a hash join or a
    partial+final aggregate on uniform keys — no per-pair interpreted
    array lambdas, and the same double division + round keeps the
    score bit-identical to the array form and the DuckDB twin.
    Zero-intersection candidates drop at the count join — correct for
    every positive threshold, and the reason ``threshold > 0`` is now
    an explicit requirement (the array form scored disjoint candidate
    pairs jaccard 0.0, which a ``>= 0.0`` filter would have kept)."""
    return _scored_lsh_pairs(
        "verified_pairs", docs, threshold, "jaccard", shingled, bands
    )


def _require_positive_threshold(threshold: float, who: str) -> None:
    """Refuse ``threshold <= 0`` for a counting-join scorer, before any
    job runs: the counting join never materializes zero-intersection
    candidate pairs, so a non-positive threshold would silently change
    semantics."""
    if threshold <= 0:
        raise ValueError(
            f"{who} requires threshold > 0: the counting join never "
            "materializes zero-intersection candidate pairs, so a "
            "non-positive threshold would silently change semantics "
            "(use the LSH candidate set directly for threshold 0)"
        )


def _scored_lsh_pairs(
    who: str,
    docs: DataFrame,
    threshold: float,
    metric: str,
    shingled: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """The body of ``verified_pairs`` and ``containment_pairs``: LSH
    candidates scored by ``metric`` through the counting join over one
    checkpointed distinct-gram table. ``shingled``: an
    already-checkpointed distinct-gram table (same contract as
    minhash_signature's parameter) so callers that built one — the
    incremental delta path — don't tokenize twice."""
    _require_positive_threshold(threshold, who)
    sh_rows = (
        gram_rows(docs).distinct().localCheckpoint()
        if shingled is None
        else shingled
    )
    cand = minhash_candidate_pairs(docs, shingled=sh_rows, bands=bands)
    sizes = sh_rows.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return score_candidate_pairs(
        cand, sh_rows, sizes, threshold=threshold, metric=metric
    )


def score_candidate_pairs(
    cand: DataFrame,
    sh_a: DataFrame,
    sizes_a: DataFrame,
    threshold: float,
    sh_b: DataFrame | None = None,
    sizes_b: DataFrame | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """True-Jaccard scoring of a ``(doc_a, doc_b)`` candidate list via
    the counting join — the ONE copy of the arithmetic that keeps
    ``verified_pairs`` and the incremental delta path bit-identical
    (a second hand-synchronized copy is exactly how an equivalence
    contract silently rots — r6 review).

    ``sh_*`` are distinct-gram row tables ``(doc_id, sh)`` and
    ``sizes_*`` per-doc gram counts ``(doc_id, n_sh)``; the ``_b`` side
    defaults to the ``_a`` side (the self-dedup case). Zero-intersection
    candidates drop at the count join, so callers must hold
    ``threshold > 0`` (enforced by the public entry points).

    ``metric`` picks the score the threshold applies to: ``"jaccard"``
    (default, |∩|/|∪| — the symmetric near-dup test) or
    ``"containment"`` (|∩|/min(|A|,|B|) — the asymmetric test that
    catches a short doc embedded in a long one, where Jaccard stays
    low because the union is dominated by the long side). The
    containment output keeps BOTH scores so callers can see exactly
    which pairs only the asymmetric metric finds."""
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    if sh_b is None:
        sh_b = sh_a
    if sizes_b is None:
        sizes_b = sizes_a
    inter = (
        cand.join(
            sh_a.select(F.col("doc_id").alias("doc_a"), "sh"), "doc_a"
        )
        .join(
            sh_b.select(F.col("doc_id").alias("doc_b"), "sh"),
            ["doc_b", "sh"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(
            sizes_a.select(
                F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sizes_b.select(
                F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
            F.round(
                F.col("n_inter").cast("double")
                / F.least("n_a", "n_b"),
                6,
            ).alias("containment"),
        )
    )
    if metric == "containment":
        return scored.filter(F.col("containment") >= threshold)
    return scored.drop("containment").filter(F.col("jaccard") >= threshold)


def connected_components(
    edges: DataFrame, max_iter: int = 50, stats: dict | None = None
) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) edge list:
    every node labeled with the smallest node id reachable from it.
    Output: (doc_id, rep) — one row per node that appears in any edge.

    Min-label propagation **with pointer jumping**: per round, (1) each
    node's label drops to the min over its neighbors' labels, then (2)
    each node shortcuts to its label's label (``rep = rep[rep]``, the
    PRAM-CC shortcut). Step 1 alone needs diameter-many rounds — fine
    for shallow near-dup components, degenerate for a long chain; the
    shortcut doubles the distance already-propagated information travels,
    so convergence is O(log diameter) (a 10M-node path converges in ~25
    rounds instead of 10M). Each round is two hash joins + one aggregate
    on the *label/edge tables only* — the corpus never enters the loop —
    which is the join-based cousin of large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Per round the superseded previous label table's checkpoint blocks are
    freed explicitly (``functions/mat.py``): only the newest label state
    stays materialized, so the loop's block-manager footprint is O(nodes),
    not O(nodes × rounds). Raises ``RuntimeError`` if the fixpoint is not
    reached within ``max_iter`` rounds — a silent non-converged return
    would hand back non-minimal labels with no signal. Pass ``stats={}``
    to receive the executed round count (scale probes assert the
    O(log diameter) bound from it).
    """
    from mapreducekmean_spark.functions.mat import (
        persistent_rdd_ids,
        unpersist_rdd_ids,
    )

    spark = edges.sparkSession
    before_all = persistent_rdd_ids(spark)
    # symmetric adjacency, materialized once for the iteration
    adj = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            edges.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    labels = (
        adj.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("rep"))
        .localCheckpoint()
    )
    setup_ids = persistent_rdd_ids(spark) - before_all
    prev_ids: set[int] = set()
    converged = False
    rounds = 0
    for rounds in range(1, max_iter + 1):
        neighbor_min = (
            adj.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("rep").alias("nrep")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nrep").alias("nmin"))
        )
        dropped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.col("rep").alias("orig"),
            F.least("rep", F.coalesce("nmin", F.col("rep"))).alias("rep"),
        )
        # pointer jump: rep -> rep[rep]. Labels are always node ids, so
        # every rep has a row in the label table; least() keeps the jump
        # monotone. The fixpoint probe rides the checkpoint job itself:
        # an ``observe`` metric (CollectMetrics) counts the dropped
        # labels while the round's localCheckpoint materializes, so each
        # round is ONE job — the former ``filter(chg).limit(1).count()``
        # was a second ~150 ms scheduling-floor job per round over
        # already-materialized blocks (optimization r15, guide §2.4
        # fewer jobs; localCheckpoint fires QueryExecutionListener, so
        # ``Observation.get`` returns as soon as the checkpoint commits).
        jump = labels.select(
            F.col("doc_id").alias("rep"), F.col("rep").alias("rep2")
        )
        before = persistent_rdd_ids(spark)
        obs = Observation(f"cc_round_{rounds}")
        stepped = (
            dropped.join(jump, "rep", "left")
            .select(
                "doc_id",
                "orig",
                F.least("rep", F.coalesce("rep2", F.col("rep"))).alias(
                    "rep"
                ),
            )
            .select(
                "doc_id",
                "rep",
                (F.col("rep") < F.col("orig")).alias("chg"),
            )
            .observe(
                obs, F.sum(F.col("chg").cast("long")).alias("n_chg")
            )
            .localCheckpoint()
        )
        new_ids = persistent_rdd_ids(spark) - before
        changed = int(obs.get["n_chg"] or 0)
        # previous round's label blocks are superseded -> free them now
        unpersist_rdd_ids(spark, prev_ids)
        prev_ids = new_ids
        labels = stepped.drop("chg")
        if changed == 0:
            converged = True
            break
    # adjacency + initial labels are dead once the loop exits (the final
    # stepped checkpoint's lineage is truncated, nothing re-reads them)
    unpersist_rdd_ids(spark, setup_ids)
    if stats is not None:  # round count, for scale probes / diagnostics
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not reach a fixpoint in {max_iter} "
            "rounds; raise max_iter (labels would be non-minimal)"
        )
    return labels


def duplicate_clusters(
    docs: DataFrame, threshold: float = VERIFY_THRESHOLD, max_iter: int = 50
) -> DataFrame:
    """Connected components over the verified-duplicate graph: every
    document labeled with the smallest doc_id reachable through verified
    pairs (its canonical), plus the component size. The full-closure
    upgrade of ``minhash_verified_dedup``'s one-pass pairwise policy —
    a chain a~b, b~c now lands all three in cluster min(a). The CC loop
    itself (pointer-jumping min-label propagation, O(log diameter)
    rounds) is ``connected_components``.
    """
    edges = verified_pairs(docs, threshold).select("doc_a", "doc_b")
    labels = connected_components(edges, max_iter)
    sizes = labels.groupBy("rep").agg(F.count("*").alias("cluster_size"))
    members = labels.join(sizes, "rep")
    # singletons: documents in no verified pair form their own cluster
    singles = (
        docs.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("rep"),
            F.lit(1).cast("bigint").alias("cluster_size"),
        )
    )
    return members.select("doc_id", "rep", "cluster_size").union(singles)


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over distinct tokens: bit b is the sign of the vote
    sum where each token votes +1 if hex nibble b of its md5 has its high
    bit set, else -1. Emitted as a '0'/'1' string (cross-engine exact) with
    4 LSH band buckets for near-dup blocking."""
    # Physical shape: explode distinct tokens → ONE codegen'd md5 per
    # token → 32 ±1 vote columns → partial+final integer-sum aggregate
    # per doc. Integer sums are order-independent, so the vote totals are
    # identical to the sequential-fold formulation, and the whole pipeline
    # stays in whole-stage codegen (~4× faster than 32 interpreted
    # F.aggregate folds per document).
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.substring("h", b, 1).isin(*HI_NIBBLES), F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"v{b}")
            for b in range(1, SIMHASH_BITS + 1)
        ]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"v{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(1, SIMHASH_BITS + 1)
        ]
    )
    out = votes.select("doc_id", sig.alias("simhash"))
    band_len = SIMHASH_BITS // 4
    return out.select(
        "doc_id",
        "simhash",
        *[
            F.substring("simhash", 1 + i * band_len, band_len).alias(
                f"band{i}"
            )
            for i in range(4)
        ],
    )


def documents_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents(spark, sf_dir)


#: Decontamination parameters: eval slice = doc_id % DECON_EVAL_MOD == 0;
#: a training doc is contaminated when it shares any DECON_NGRAM-token
#: word n-gram with the eval slice (the published LLM-pretraining
#: decontamination recipe: n-gram collision against held-out benchmarks).
DECON_EVAL_MOD = 20
DECON_NGRAM = 8


def decontaminate(
    docs: DataFrame,
    n: int = DECON_NGRAM,
    eval_mod: int = DECON_EVAL_MOD,
) -> DataFrame:
    """Benchmark decontamination: flag every TRAINING document (doc_id %
    eval_mod != 0) that shares at least one word ``n``-gram with the
    EVAL slice (doc_id % eval_mod == 0). Output per training doc:
    distinct-gram count, colliding-gram count, contamination verdict —
    the filter a pretraining pipeline applies so the training set can't
    leak the benchmark.

    Plan shape: one explode → distinct over (doc_id, md5(gram)) — md5
    fixes the join-key width at 32 bytes regardless of n and keeps keys
    uniform (no stopword-gram skew: identical grams still meet on one
    key, but counts are per-document distinct, so the hot key carries
    one row per containing doc, not a cross product). Then ONE hash
    join of training grams against the distinct eval-gram set and a
    per-doc aggregate. Docs too short to have any n-gram re-enter via a
    left join from the doc base, so the output row set is exactly the
    training slice. At 100 TB every stage is linear: explode volume ~
    tokens × 1, both shuffle keys (md5, doc_id) uniform."""
    base = docs.select("doc_id").filter(F.col("doc_id") % eval_mod != 0)
    grams = (
        gram_rows(docs, n=n)
        .select("doc_id", F.md5("sh").alias("h"))
        .distinct()
        # both the eval and the training branch read this table; without
        # materialization Spark plans them as two independent subtrees
        # and the whole explode→md5→distinct pass runs TWICE (measured
        # 2× at the 500k-doc probe). At cluster scale this is the
        # standard build-the-gram-index-once step.
        .localCheckpoint()
    )
    ev = (
        grams.filter(F.col("doc_id") % eval_mod == 0)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = grams.filter(F.col("doc_id") % eval_mod != 0)
    per_doc = (
        tr.join(ev, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


#: Fuzzy decontamination: short grams make the collision signal dense
#: enough for a RATIO to mean something; the verdict fires at
#: DECON_FUZZY_TAU_PCT percent distinct-gram overlap with the eval
#: slice.
DECON_FUZZY_NGRAM = 3
DECON_FUZZY_TAU_PCT = 20


def decontaminate_fuzzy(
    docs: DataFrame,
    n: int = DECON_FUZZY_NGRAM,
    eval_mod: int = DECON_EVAL_MOD,
    tau_pct: int = DECON_FUZZY_TAU_PCT,
) -> DataFrame:
    """Fuzzy benchmark decontamination — the screen exact matching
    misses. :func:`decontaminate` flags a training doc only when a full
    8-gram survives verbatim; a light paraphrase defeats that. Here the
    flag fires when the doc's distinct short-gram (default trigram)
    OVERLAP RATIO with the eval slice reaches ``tau_pct`` percent — the
    "dirty document" definition of the GPT-3/PaLM-style contamination
    appendices, where partial n-gram overlap marks a doc for removal.

    Exactness discipline: the verdict compares INTEGERS
    (``100 * n_hits >= tau_pct * n_grams``) so no float threshold
    enters the cross-engine hash; ``overlap_ratio`` is display grain
    (one IEEE division, rounded to 6 dp). Plan shape is
    :func:`decontaminate`'s — one explode → distinct → hash join →
    per-doc aggregate — with a projection on top; all linear at 100 TB.
    """
    base = decontaminate(docs, n=n, eval_mod=eval_mod)
    hit_pct = F.lit(100) * F.col("n_hits")
    floor_pct = F.lit(int(tau_pct)) * F.col("n_grams")
    return base.select(
        "doc_id",
        "n_grams",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"),
            6,
        ).alias("overlap_ratio"),
        ((hit_pct >= floor_pct) & (F.col("n_grams") > 0)).alias(
            "contaminated_fuzzy"
        ),
    )


#: Repeated-substring span parameters (Lee et al. 2022, "Deduplicating
#: Training Data Makes Language Models Better", which removes VERBATIM
#: repeated spans rather than whole near-dup documents): a span is
#: flagged when its REP_SPAN_N-token grams recur REP_SPAN_MIN_DUP+
#: times corpus-wide. 20 tokens is the fixture-scale stand-in for the
#: paper's 50-token threshold (fixture docs cap at 100 tokens).
REP_SPAN_N = 20
REP_SPAN_MIN_DUP = 2


def repeated_ngram_spans(
    docs: DataFrame,
    n: int = REP_SPAN_N,
    min_dup: int = REP_SPAN_MIN_DUP,
) -> DataFrame:
    """Exact repeated-substring spans — the SUB-document dedup signal
    document-level dedup cannot give: a doc may be 95% unique yet carry
    a boilerplate paragraph pasted across the corpus, and removing the
    SPAN (not the doc) is what Lee et al. 2022 showed improves the
    trained model. A position is flagged when its n-gram occurs
    ``min_dup``+ times corpus-wide; maximal runs of flagged positions
    collapse to one span row via gaps-and-islands (pos − row_number
    grouping — pure integer window arithmetic, so the DuckDB twin
    value-hashes exactly).

    Output: ``(doc_id, span_start, span_end, n_grams)`` with token
    positions 0-based inclusive (``span_end`` covers the last flagged
    gram's final token: max pos + n − 1).

    100 TB shape: the gram stream is the codegen'd ``gram_rows`` volume
    path (one exchange on doc_id), the corpus-wide count is one
    aggregate on uniform md5 keys, the flag join is hash-on-md5, and
    the island window rides the SAME doc_id partitioning the gram
    build already established — a suffix-array construction (the
    paper's single-node tool) is replaced by three linear passes."""
    grams = gram_rows(docs, n=n, with_pos=True).select(
        "doc_id", "pos", F.md5("sh").alias("h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= int(min_dup))
        .select("h")
    )
    rep = grams.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = rep.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(int(n) - 1))
            .cast("bigint")
            .alias("span_end"),
            F.count("*").cast("bigint").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def apply_substring_dedup(
    docs: DataFrame,
    n: int = REP_SPAN_N,
    min_dup: int = REP_SPAN_MIN_DUP,
) -> DataFrame:
    """The APPLY step for :func:`repeated_ngram_spans` — emit each
    document with its corpus-repeated spans REMOVED (Lee et al. 2022
    deletes the repeated substring and keeps the rest of the doc; this
    is that, in tokenizer space: output text is the kept tokens
    re-joined with single spaces, lowercase-alnum — a normalization the
    docstring states rather than hides, since every downstream stage in
    this engine tokenizes identically anyway).

    Overlapping spans (islands closer than n tokens) compose correctly:
    a token is dropped when ANY span covers it. Shape: one posexplode
    of the token stream, a broadcast-able range join against the span
    table (spans are island-collapsed — few rows per affected doc), a
    per-doc ordered re-assembly; every stage linear, the assembly
    reusing the doc_id partitioning. Output:
    ``(doc_id, n_tokens, n_removed, clean_text)`` for EVERY input doc
    (clean docs pass through; fully-duplicated docs emit '')."""
    # alias the span side: it shares lineage with toks (both derive
    # from docs), and unqualified doc_id == doc_id would be ambiguous
    spans = repeated_ngram_spans(docs, n=n, min_dup=min_dup).select(
        F.col("doc_id").alias("s_doc_id"), "span_start", "span_end"
    )
    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    # no broadcast hint: the span table is corpus-derived (one row per
    # repeated island — O(corpus) on a boilerplate-heavy corpus, the
    # exact workload this operator targets), so forcing a broadcast
    # would be an unbounded driver collect at scale; AQE broadcasts it
    # on its own whenever it is actually small (fixture scale always)
    kept = toks.join(
        spans,
        (F.col("doc_id") == F.col("s_doc_id"))
        & (F.col("pos") >= F.col("span_start"))
        & (F.col("pos") <= F.col("span_end")),
        "leftanti",
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, tok))), "
                "s -> s.tok)"
            ),
        ).alias("clean_text"),
    )
    # n_tokens == the exploded row count per doc == size(tokens(text)):
    # a scan-site projection, replacing a whole second tokenize →
    # posexplode → aggregate branch (and its exchange) for the same
    # value (size() is 0 exactly when posexplode emits no rows)
    totals = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return (
        totals
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            (
                F.coalesce("n_tokens", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


#: Edit-distance verification: a candidate pair is a near-dup when the
#: Levenshtein distance over normalized text is at most
#: EDIT_VERIFY_TAU_PCT percent of the longer side.
EDIT_VERIFY_TAU_PCT = 20


def edit_verified_pairs(
    docs: DataFrame, tau_pct: int = EDIT_VERIFY_TAU_PCT
) -> DataFrame:
    """MinHash candidate pairs verified by EDIT DISTANCE — the third
    verification metric beside set Jaccard (`minhash_verified_dedup`)
    and embedding cosine (`embedding_near_dup`): Levenshtein is the
    right verifier when near-dups differ by small in-place edits
    (typo-level mutation, template slot-filling) that barely move a
    shingle set but are exactly what character-level distance counts.

    Candidates come from the SAME banded LSH join as the Jaccard path
    — never all pairs — and only the candidate pairs' normalized texts
    (lowercase, whitespace-collapsed: the `dedup_exact` normalization)
    meet the quadratic-cost `levenshtein` kernel, which runs JVM-side
    (`F.levenshtein` — no Python in the loop) and is the identical DP
    metric in DuckDB, so distances are exact integers on both engines.
    The verdict stays integer-exact (100·dist ≤ tau_pct·max_len);
    ``edit_sim`` is display grain (one IEEE division, rounded).

    Output: (doc_a, doc_b, edit_dist, max_len, edit_sim, is_dup)."""
    cand = minhash_candidate_pairs(docs)
    norm = docs.select(
        "doc_id", normalized_text().alias("nt")
    ).localCheckpoint()
    a = norm.select(F.col("doc_id").alias("doc_a"), F.col("nt").alias("ta"))
    b = norm.select(F.col("doc_id").alias("doc_b"), F.col("nt").alias("tb"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("bigint").alias("edit_dist"),
            F.greatest(F.length("ta"), F.length("tb"))
            .cast("bigint")
            .alias("max_len"),
        )
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "edit_dist",
        "max_len",
        F.round(
            F.lit(1.0)
            - F.col("edit_dist").cast("double")
            / F.greatest(F.col("max_len"), F.lit(1)).cast("double"),
            6,
        ).alias("edit_sim"),
        (
            (F.lit(100) * F.col("edit_dist"))
            <= (F.lit(int(tau_pct)) * F.col("max_len"))
        ).alias("is_dup"),
    )


#: Containment threshold for the asymmetric near-dup scorer: half of
#: the smaller doc's distinct grams shared is a strong embed signal.
CONTAINMENT_TAU = 0.5


def containment_pairs(
    docs: DataFrame, threshold: float = CONTAINMENT_TAU
) -> DataFrame:
    """LSH candidate pairs scored by CONTAINMENT — |A∩B|/min(|A|,|B|)
    over distinct 3-gram sets — the asymmetric duplication test: a
    short document pasted inside a long one scores containment ~1.0
    while its Jaccard stays low (the union is dominated by the long
    side), so a symmetric-threshold pipeline never flags it. Broder's
    containment companion to the resemblance (Jaccard) measure.

    Output ``(doc_a, doc_b, jaccard, containment)`` filtered on
    containment — keeping both scores makes the asymmetric-only catches
    visible (rows with high containment, sub-threshold Jaccard).

    Honest recall caveat: candidates still come from Jaccard-tuned
    MinHash LSH bands, which under-sample extreme-size-ratio pairs; at
    production scale, pair this scorer with a suffix/substring pass
    (``repeated_ngram_spans``) for the within-doc form. Same counting-
    join plumbing as ``verified_pairs`` — one copy of the arithmetic
    (``score_candidate_pairs``), no per-pair array lambdas — and the
    same ``threshold > 0`` requirement.
    """
    return _scored_lsh_pairs(
        "containment_pairs", docs, threshold, "containment"
    )


#: Fixed token-frame width used to derive a line structure for corpora
#: whose documents carry no newlines (the fixture corpus) — stated, not
#: hidden: real corpora use line_rows' delimiter splitting instead.
LINE_WIN = 4


def line_rows(docs: DataFrame, delim: str = "\n") -> DataFrame:
    """``(doc_id, line_no, line)`` — one row per line of each document,
    the unit of C4-style line-level dedup (Raffel et al. 2020 dedup
    their corpus on exact three-sentence spans; the line form is the
    common production variant: drop a line when its exact text occurred
    anywhere earlier in the corpus). ``line_no`` is the 0-based
    position; lines keep their exact text (no normalization — line
    dedup is an EXACT pass; run ``exact_dedup``'s normalization first
    if the corpus needs it). One narrow projection, no shuffle."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", F.lit(delim))).alias(
            "line_no", "line"
        ),
    ).select("doc_id", F.col("line_no").cast("bigint").alias("line_no"),
             "line")


#: Header width (chars) of the synthetic boilerplate-newline corpus.
BOILER_HEAD = 120


def boilerplate_nl_docs(docs: DataFrame, head: int = BOILER_HEAD) -> DataFrame:
    """Deterministic NEWLINE-BEARING twin of the fixture corpus — the
    oracle-facing synthesis that lets the driver value-hash the real
    newline path (:func:`line_rows`, which real corpora use and which
    needs NO framing exchange). Each document becomes three lines: a
    ``head``-char header, the body, and the header AGAIN — the classic
    repeated-boilerplate shape C4-style line dedup exists for (Raffel
    et al. 2020): the repeated header is removed within every doc, and
    an exact-dup doc loses all its lines to the first copy. Pure
    string concatenation (``substring`` + ``concat_ws`` — no regex),
    so the DuckDB twin replays it bit-identically. One narrow
    projection, no shuffle."""
    hd = F.substring("text", 1, int(head))
    return docs.select(
        "doc_id",
        F.concat_ws("\n", hd, F.col("text"), hd).alias("text"),
    )


def framed_line_rows(docs: DataFrame, win: int = LINE_WIN) -> DataFrame:
    """``(doc_id, line_no, line)`` by FIXED ``win``-token framing — the
    line structure for corpora whose documents have no newlines (the
    fixture): tokens 0..win-1 form line 0, and so on; the trailing
    frame may be short. Deterministic integer arithmetic end to end
    (tokenize, integer-divide positions, ordered re-join), so the
    DuckDB twin value-hashes. One exchange (the doc_id/line_no
    groupBy), reusing the tokenizer every text operator shares."""
    from mapreducekmean_spark.operators.text import tokens

    toks = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    return (
        toks.withColumn("line_no", F.expr(f"pos DIV {int(win)}"))
        .groupBy("doc_id", "line_no")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, tok)))"
                    ", s -> s.tok)"
                ),
            ).alias("line")
        )
        .select(
            "doc_id", F.col("line_no").cast("bigint").alias("line_no"),
            "line",
        )
    )


def dedup_lines(lines: DataFrame) -> DataFrame:
    """Line-level exact dedup — which line OCCURRENCES to drop: an
    occurrence is removed when the exact same line text appeared
    earlier corpus-wide, "earlier" = smaller ``(doc_id, line_no)``
    (the C4 pass at corpus scope: the first occurrence survives, every
    later paste of the boilerplate goes, including repeats inside one
    document). First-occurrence selection is one ``min(struct(doc_id,
    line_no))`` per md5(line) — a hash group-by on uniform keys, the
    ``dedup_exact`` economics: embarrassingly parallel, no all-pairs
    anything, skew bounded by the hottest line's occurrence count
    (absorbed map-side by the partial min).

    Output ``(doc_id, line_no, h, keep_doc_id, keep_line_no)`` — one
    row per REMOVED occurrence, pointing at its surviving first
    occurrence (md5 + integers only, cross-engine exact)."""
    hashed = lines.select(
        "doc_id", "line_no", F.md5("line").alias("h")
    )
    first = hashed.groupBy("h").agg(
        F.min(F.struct("doc_id", "line_no")).alias("k")
    )
    return (
        hashed.join(first, "h")
        .filter(
            (F.col("doc_id") != F.col("k.doc_id"))
            | (F.col("line_no") != F.col("k.line_no"))
        )
        .select(
            "doc_id",
            "line_no",
            "h",
            F.col("k.doc_id").alias("keep_doc_id"),
            F.col("k.line_no").alias("keep_line_no"),
        )
    )


def dedup_lines_apply(
    docs: DataFrame, lines: DataFrame, sep: str = " "
) -> DataFrame:
    """The APPLY step for :func:`dedup_lines` — every document
    reassembled with its removed line occurrences dropped (the
    ``apply_substring_dedup`` machinery one level up: explode → anti-
    join the removal table → ordered re-join). ``sep`` joins the kept
    lines (``"\\n"`` for real line corpora, ``" "`` for the framed
    fixture form, where it reconstitutes the surviving token stream).

    Output ``(doc_id, n_lines, n_removed, clean_text)`` for EVERY
    input doc — clean docs pass through, a doc that was all boilerplate
    emits ``''``."""
    removed = dedup_lines(lines).select("doc_id", "line_no")
    kept = lines.join(removed, ["doc_id", "line_no"], "left_anti")
    re = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.concat_ws(
            sep,
            F.expr(
                "transform(array_sort(collect_list(struct(line_no, line)))"
                ", s -> s.line)"
            ),
        ).alias("clean_text"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(re, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            (
                F.coalesce("n_lines", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def split_leakage_audit(docs: DataFrame) -> DataFrame:
    """Cross-split exact-duplicate LEAKAGE audit — the post-split check
    every training pipeline runs (``decontaminate`` audits train vs an
    external benchmark; this audits the corpus's own train/val/test
    splits): a content group with copies in two splits means the
    held-out sets contain training data, and a val/test metric
    computed on them is contaminated. Splits come from the engine's
    own ``text.split_col()`` (hash of doc_id), so dedup-before-split
    ordering bugs surface here.

    Output one row per ordered split pair ``(split_a < split_b)``:
    ``n_groups`` — content groups present in both — and ``n_docs`` —
    total copies (across both splits) belonging to those leaked
    groups. Zero rows = clean.

    Scale shape: content hash is a scan-site projection; the DISTINCT
    (hash, split) table carries at most 3 rows per group regardless of
    copy count (a boilerplate page duplicated millions of times
    contributes ≤3 rows — the distinct absorbs the mass map-side);
    the split-pair self-join fans out ≤ 3×3 per hash on uniform md5
    keys; the per-group doc counts ride the same hash-keyed shuffle.
    """
    from mapreducekmean_spark.operators.text import split_col

    d = docs.select(
        "doc_id", F.md5(normalized_text()).alias("h")
    ).withColumn("split", split_col())
    hs = d.select("h", "split").distinct()
    per_split = d.groupBy("h", "split").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a = hs.alias("a")
    b = hs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.h") == F.col("b.h"))
        & (F.col("a.split") < F.col("b.split")),
    ).select(
        F.col("a.h").alias("h"),
        F.col("a.split").alias("split_a"),
        F.col("b.split").alias("split_b"),
    )
    # copies in the two leaked splits, summed per pair via two joins
    # on the same hash-keyed partitioning
    na = pairs.join(
        per_split.select(
            F.col("h").alias("ha"), F.col("split").alias("sa"),
            F.col("n").alias("n_a"),
        ),
        (F.col("h") == F.col("ha")) & (F.col("split_a") == F.col("sa")),
    ).drop("ha", "sa")
    nb = na.join(
        per_split.select(
            F.col("h").alias("hb"), F.col("split").alias("sb"),
            F.col("n").alias("n_b"),
        ),
        (F.col("h") == F.col("hb")) & (F.col("split_b") == F.col("sb")),
    ).drop("hb", "sb")
    return nb.groupBy("split_a", "split_b").agg(
        F.countDistinct("h").alias("n_groups"),
        F.sum(F.col("n_a") + F.col("n_b")).cast("bigint").alias("n_docs"),
    )
