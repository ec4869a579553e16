"""Graph analytics over derived document graphs.

The reference engine has no graph operators (its 3 Java files run one
iterative K-Means job, ``/root/reference/src/MapReduceKMean/
KMeans.java``); the engine's dedup family, however, already BUILDS pair
graphs — MinHash candidate pairs, embedding near-dups — and runs
pointer-jumping connected components over them
(``operators.dedup.connected_components``). This module adds the two
standard analytics a corpus pipeline runs on those same graphs:

- **triangle counting** — how clustered is the near-dup neighborhood; a
  transitivity check on the pair graph (pairs that close triangles are
  far more likely true duplicates than isolated edges);
- **PageRank** — centrality over the near-dup graph; the top-ranked
  document inside a duplicate cluster is the natural CANONICAL
  representative to keep (most-connected ≈ most-central copy).

Scale design:

- Triangles use the degree-ordered algorithm (Suri & Vassilvitskii,
  WWW 2011): every edge is DIRECTED from its lower-(degree, id)
  endpoint to its higher one, and wedges are enumerated only at each
  triangle's lowest-degree corner. Out-degree after this orientation is
  O(sqrt(m)), so the wedge join materializes at most m^{3/2} rows
  regardless of skew — a power-law hub of degree d contributes
  O(m) wedges, not O(d^2). Everything is equi-joins + one aggregate;
  no driver collects anywhere.
- PageRank is the classic contribution-push loop: one shuffle per
  iteration (contributions grouped by destination), state is one
  (node, rank) row per node. Cross-engine determinism follows the
  engine-wide fold discipline (``functions/vector.py``): per-node
  in-contributions are summed by a SEQUENTIAL fold over the
  neighbor-sorted contribution list, so Spark and the DuckDB twin
  perform float additions in the identical order and ranks are
  bit-identical — no per-iteration rounding tricks needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

#: fixed iteration count for the declared PageRank query (the oracle
#: unrolls exactly this many CTE passes).
PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85

def canonical_edges(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Undirected edge list in canonical form: (u < v), self-loops
    dropped, duplicates collapsed. Accepts edges in either orientation."""
    return (
        edges.select(
            F.least(F.col(u), F.col(v)).alias("u"),
            F.greatest(F.col(u), F.col(v)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph — degree-ordered
    (Suri & Vassilvitskii 2011), so wedge volume is bounded by m^{3/2}
    even on power-law graphs.

    Each undirected edge is directed from its lower (degree, id)
    endpoint to the higher; a triangle {a, b, c} with degree-order
    a < b < c then appears as the unique wedge (a→b, a→c) closed by the
    directed edge b→c, so it is found exactly once. The found triangle
    explodes to its three corners for the per-node aggregate.

    Input: any (u, v) frame (either orientation, dupes fine). Output:
    (node, triangles) for nodes on >= 1 triangle.

    The canonical edge list and the directed orientation are each
    localCheckpoint-ed: the edge frame feeds FOUR consumers (degree
    count, orientation join, both wedge sides + the closure probe),
    and without lineage truncation Catalyst re-evaluates the whole
    upstream — for the near-dup graph, the pairwise scorer itself —
    once per branch (measured: the un-checkpointed plan carried 109
    exchanges and six embedding scans at fixture scale)."""
    e = canonical_edges(edges).localCheckpoint()
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    d = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias(
                "dst_deg"
            ),
        )
        .localCheckpoint()
    )
    # enumerate each out-neighbor PAIR once, not twice: the closure
    # edge b→c exists only when b precedes c in the same (deg, id)
    # orientation order, so the (c, b) ordering of every wedge is dead
    # weight — filtering here halves the m^1.5-bounded wedge set, the
    # algorithm's largest intermediate
    b_first = (F.col("bd") < F.col("cd")) | (
        (F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c"))
    )
    w = (
        d.select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.col("dst_deg").alias("bd"),
        )
        .join(
            d.select(
                F.col("src").alias("a"),
                F.col("dst").alias("c"),
                F.col("dst_deg").alias("cd"),
            ),
            "a",
        )
        .filter((F.col("b") != F.col("c")) & b_first)
        .select("a", "b", "c")
    )
    t = w.join(
        d.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
    )
    corners = (
        t.select(F.col("a").alias("node"))
        .unionAll(t.select(F.col("b").alias("node")))
        .unionAll(t.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("triangles")
    )


def pagerank(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """PageRank over an UNDIRECTED graph (each edge contributes both
    directions), fixed iteration count, uniform init 1/N over the
    graph's nodes.

    Per iteration: rank'(v) = (1-d)/N + d * sum_{u in N(v)} rank(u)/deg(u).
    The neighbor sum is a sequential fold over the contribution list
    sorted by source id (``F.aggregate`` over ``array_sort(collect_list
    (struct(src, c)))``), which the DuckDB twin mirrors with
    ``list_sum(list(c ORDER BY src))`` — float additions happen in the
    identical order in both engines, so ranks are bit-identical without
    rounding (the ``functions/vector.py`` discipline). The per-node
    collect_list is bounded by the node's degree — the same bound as
    any adjacency representation.

    In a symmetrized graph every node has in- and out-edges, so there
    are no dangling nodes and rank mass is conserved. State per
    iteration is one (node, rank) row per node, referenced exactly ONCE
    per iteration (the contribution join), so the fixed-iteration loop
    compiles into ONE job whose plan is a linear chain of exchanges —
    no per-iteration localCheckpoint and no subtree duplication
    (optimization r14; k_core/connected_components keep their
    checkpoints because their state is referenced 2-3× per pass).

    Output: (node, rank) with rank UNROUNDED (callers round for
    display/oracles)."""
    e = canonical_edges(edges).localCheckpoint()  # scored once, not per union side
    adj = e.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(e.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    # out-degree is loop-invariant: attach it to the adjacency ONCE and
    # checkpoint the joined table, so each iteration pays a single join
    # (ranks) instead of two (optimization r14, guide §2.4 — the join
    # and its exchange were re-run every iteration for identical
    # output). The contribution stays ``rank / od`` — the same IEEE
    # division as before, so ranks are bit-identical.
    adj = (
        adj.join(
            adj.groupBy("src").agg(F.count("*").alias("od")), "src"
        ).localCheckpoint()
    )
    nodes = adj.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    # The loop state ``r`` is referenced exactly ONCE per iteration (the
    # contribution join), so the unrolled plan is a linear chain — no
    # subtree duplication — and the whole fixed-iteration loop compiles
    # into ONE job with ``iters`` chained exchanges instead of one
    # materialization job per iteration (optimization r14, guide §2.4:
    # this build's per-job floor is ~150 ms; k_core/CC keep their
    # checkpoints because their state is referenced 2-3x per pass).
    # Expressions are unchanged, so ranks stay bit-identical.
    r = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            adj.join(r, adj.src == r.node)
            .select(
                F.col("dst"),
                F.col("src"),
                (F.col("rank") / F.col("od")).alias("c"),
            )
        )
        summed = contribs.groupBy("dst").agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("src"), F.col("c")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("s")
        )
        r = summed.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.lit(damping) * F.col("s")).alias("rank"),
        )
    return r


# --- declared-query composers over the near-dup graph ---------------------


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding near-dup pair graph (operators/similarity.py:
    embedding_near_dup) as a canonical (u, v) edge list."""
    from mapreducekmean_spark.operators.similarity import embedding_near_dup

    pairs = embedding_near_dup(spark, sf_dir)
    return pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )


def near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: per-document triangle counts on the near-dup
    graph — the transitivity signal for duplicate-cluster quality."""
    return triangle_counts(_near_dup_edges(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "triangles"
    )


def near_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: PageRank centrality on the near-dup graph — the
    canonical-representative score for duplicate clusters. Rounded to
    6 dp for the cross-engine hash (ranks are bit-identical; rounding
    is display-grain only)."""
    return pagerank(_near_dup_edges(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


#: Declared-query k-core parameters: the 2-core of the near-dup graph
#: (nodes on at least one cycle through duplicates — isolated pair
#: edges peel away), with the peel unrolled to a FIXED pass count so
#: the DuckDB twin can mirror it CTE-for-CTE (the ``kmeans_full``
#: discipline). The operator RAISES if the graph needs more passes, so
#: the fixed unroll can never silently return a half-peeled set.
K_CORE_K = 2
K_CORE_PASSES = 12  # measured fixture peel depth: 10 (sf0.001) — margin of 2


def k_core(
    edges: DataFrame,
    k: int = K_CORE_K,
    passes: int = K_CORE_PASSES,
    require_converged: bool = True,
) -> DataFrame:
    """The k-core: iteratively peel nodes of degree < k until the
    induced subgraph is stable. Output: ``(node, deg)`` for the
    survivors, with ``deg`` the degree INSIDE the core.

    Each pass is one degree aggregate + two semi-joins (keep edges
    whose endpoints both survive), with a localCheckpoint so the plan
    stays one-pass deep (the loop stance of ``kmeans``/``pagerank``).
    Passes are FIXED at ``passes`` and convergence is verified by one
    extra degree check — a still-peelable node raises with the
    actionable fix (raise ``passes``) rather than returning a
    non-core. Scale honesty: peel DEPTH is the graph's degeneracy
    ordering depth — 1-2 passes on cliquey dup graphs (the target
    workload), but Θ(n) on a bare path peeled end-in (k=2), the same
    chain pathology ``connected_components`` dodges with pointer
    jumping and a peel cannot; for adversarial chain graphs run with
    ``require_converged=False`` and iterate externally."""
    # Every fixpoint/convergence probe in this loop rides the job that
    # materializes its localCheckpoint via an ``observe`` metric
    # (CollectMetrics aggregates while the checkpoint's partitions
    # compute; localCheckpoint fires the QueryExecutionListener that
    # publishes them) — the former separate ``count()`` per probe was a
    # ~150 ms scheduling-floor job over already-materialized blocks
    # (optimization r15, guide §2.4 fewer jobs; the r14 early-exit
    # comment below explains why the COUNT itself is the right probe).
    obs0 = Observation("k_core_edges_init")
    e = (
        canonical_edges(edges)
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    # Early exit (optimization r14, guide §2.4 "do fewer passes"): the
    # peel is monotone — the edge set only shrinks, and a pass that
    # removes nothing is the identity for every later pass — so once the
    # edge COUNT is unchanged the remaining fixed passes compute exactly
    # the committed result. Measured fixture peel depth is 3 at sf0.1
    # vs the 12-pass unroll, so this drops ~9 checkpoint+join jobs while
    # the convergence check below still certifies the fixpoint.
    n_edges = int(obs0.get["n"])
    for i in range(passes):
        deg = (
            e.select(F.col("u").alias("x"))
            .unionAll(e.select(F.col("v").alias("x")))
            .groupBy("x")
            .agg(F.count("*").alias("deg"))
        )
        strong = deg.filter(F.col("deg") >= int(k)).select("x")
        obs_i = Observation(f"k_core_pass_{i}")
        e = (
            e.join(strong.withColumnRenamed("x", "u"), "u", "leftsemi")
            .join(strong.withColumnRenamed("x", "v"), "v", "leftsemi")
            .select("u", "v")
            .observe(obs_i, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        n_after = int(obs_i.get["n"])
        if n_after == n_edges:
            break
        n_edges = n_after
    obs_w = Observation("k_core_weak")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
        .observe(
            obs_w,
            F.sum((F.col("deg") < int(k)).cast("long")).alias("weak"),
        )
    ).localCheckpoint()
    if require_converged:
        weak = int(obs_w.get["weak"] or 0)
        if weak:
            raise ValueError(
                f"k_core did not converge in {passes} passes "
                f"({weak} nodes still below degree {k}); raise passes="
            )
    return deg


def near_dup_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the 2-core of the embedding near-dup graph —
    documents on duplicate CYCLES (a much stronger dup signal than a
    lone pair edge), with their in-core degree."""
    return k_core(_near_dup_edges(spark, sf_dir)).select(
        F.col("node").alias("doc_id"), "deg"
    )
