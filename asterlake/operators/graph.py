"""Graph operators over DataFrame edge lists: connected components
(duplicate clustering), PageRank, triangle counts, label propagation,
k-core and multi-source BFS.

Spark has no built-in graph operators (GraphFrames is an external
package), so each iterative algorithm is a driver-coordinated fixpoint of
DataFrame joins. Every such loop is one ``step`` function (one round's
plan, no actions) run by the shared driver :func:`_iterate`:

- Landing: ``localCheckpoint`` truncates lineage — without it the plan
  doubles per round and round k replays rounds 1..k-1. A fixed-round loop
  lands every ``_LAND_EVERY`` rounds and always its final round; the
  un-landed rounds run inside the next landing job, their repeated
  subtrees deduplicated through ReusedExchange. A convergence-gated loop
  lands the round before its first probe and every probed round (the
  probe is an action over both the previous and the new state), and
  stops at the first round its ``converged`` test holds. Running out of
  rounds warns.
- Partitions: every loop runs under :func:`_pinned_partitions`, which
  sets ``spark.sql.shuffle.partitions`` for the loop and restores it
  afterwards; the final round lands inside it, so no round executes at
  the ambient count. Graph loops are small relative to the corpus scans
  the session conf is tuned for, and at the ambient count each round
  pays that many tasks per stage. The pin is a session-global conf
  change: the loop assumes no other query plans on the session
  concurrently.

Per-round joins carry a ``shuffle_hash`` hint where the node-sized table
would otherwise be broadcast-converted by AQE every round (a driver
collect + broadcast build per round at bench scale, and impossible at
100 TB); ``localCheckpoint`` does not preserve output partitioning under
AQE, so landed inputs are not pre-partitioned.
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# Fixed-round loops land every this many rounds (plus the final round).
_LAND_EVERY = 3

# Per-node H-index over a (value h, count c) histogram: sorted by value
# descending, the running count tracks max(min(h, cum)), which equals the
# H-index at distinct-value boundaries. One JVM-side fold, no window.
_HINDEX = (
    "aggregate(sort_array(collect_list(struct(h, c)), false), "
    "struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS best), "
    "(acc, x) -> struct(acc.cum + x.c, "
    "greatest(acc.best, least(x.h, acc.cum + x.c))), "
    "acc -> acc.best)"
)


_Probe = Callable[[DataFrame, DataFrame], bool]


def _iterate(
    step: Callable[[DataFrame], DataFrame], state: DataFrame, rounds: int,
    converged: _Probe | None = None, min_rounds: int = 1, name: str = "loop",
) -> tuple[DataFrame, int]:
    """Run ``state = step(state)`` for at most ``rounds`` rounds; return
    ``(state, rounds_run)``.

    Without ``converged`` exactly ``rounds`` rounds run. With it, rounds
    from ``min_rounds`` on are probed with ``converged(prev, new)`` and
    the loop stops at the first true probe; ``rounds_run`` counts that
    round. A gated loop that runs out of rounds warns once.

    Landing rule (one for every loop): a round lands when it is a
    multiple of ``_LAND_EVERY``, the last round before the first probe
    (for a fixed-round loop: the final round), or a probed round.
    """
    first_probe = rounds + 1 if converged is None else min(min_rounds, rounds + 1)
    for r in range(1, rounds + 1):
        new = step(state)
        if r % _LAND_EVERY == 0 or r >= first_probe - 1:
            new = new.localCheckpoint()
        if r >= first_probe and converged(state, new):
            return new, r
        state = new
    if converged is not None:
        warnings.warn(
            f"{name}: max_iter={rounds} reached WITHOUT converging; the "
            "result is the last round's state, not the fixpoint. Raise "
            "the round limit.",
            stacklevel=3,
        )
    return state, rounds


@contextmanager
def _pinned_partitions(spark: SparkSession, parts: int) -> Iterator[None]:
    """Set ``spark.sql.shuffle.partitions`` to ``parts`` for the block and
    restore the session's value afterwards, also when the block raises."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(parts))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _loop_parts(spark: SparkSession) -> int:
    """The shuffle-partition count a graph loop runs at."""
    return max(4, min(256, spark.sparkContext.defaultParallelism))


def _symmetrized(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions ``(_s, _d)`` of every edge, emitted from ONE pass
    over the input: a union of two swapped selects would run the
    caller's edge-generation subtree once per branch."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("_s"), F.col(dst).alias("_d")),
                F.struct(F.col(dst).alias("_s"), F.col(src).alias("_d")),
            )
        ).alias("_e")
    ).select("_e._s", "_e._d")


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The landed simple undirected graph: both directions, no
    self-loops, no repeated edges."""
    return (
        _symmetrized(edges, src, dst)
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
        .localCheckpoint()
    )


def _neighbor_counts(
    und: DataFrame, state: DataFrame, col: str, parts: int
) -> DataFrame:
    """``(node, col, c)``: how many of each node's neighbors hold each
    value of ``state``'s ``col``. One shuffle-hash join; the count's
    node-keyed exchange also satisfies the per-node aggregate a caller
    stacks on it (hash(node) clusters (node, col))."""
    msgs = und.join(
        state.withColumnRenamed("node", "_s").hint("shuffle_hash"), "_s"
    ).select(F.col("_d").alias("node"), col)
    return (
        msgs.repartition(parts, "node")
        .groupBy("node", col)
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Label every vertex with the min vertex id reachable from it.

    ``edges`` is undirected input (each pair listed once is enough).
    ``vertices`` optionally supplies the full vertex set — pass it so
    isolated vertices (no edges) appear as their own singleton components;
    otherwise the vertex set is inferred from the edges alone.

    Min-label propagation: each round every vertex takes the min of its
    label and its neighbors' labels, until no label changes — rounds =
    graph diameter, which is 2-3 for near-clique duplicate clusters. A
    graph deeper than ``max_iter`` warns and returns partial labels.
    Each round is one join + one partial-aggregated min; the changed
    count rides the round's landing job as an ``Observation``. The loop
    pins shuffle partitions to a count derived from the edge count.

    Returns ``(id_col, component)``. Deterministic for any input
    partitioning.
    """
    und = _symmetrized(edges, src, dst).localCheckpoint()
    if vertices is None:
        vertices = und.select(F.col("_s").alias(id_col)).distinct()
    parts = max(4, min(256, und.count() // 50_000 + 4))
    labels = vertices.select(
        F.col(id_col), F.col(id_col).alias("component")
    ).localCheckpoint()
    observed: list[Observation] = []

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            und.join(labels, und["_d"] == labels[id_col])
            .groupBy("_s")
            .agg(F.min("component").alias("_nbr"))
        )
        nbr = F.coalesce(F.col("_nbr"), F.col("component"))
        observed.append(Observation())
        return (
            labels.join(nbr_min, labels[id_col] == nbr_min["_s"], "left")
            .select(
                F.col(id_col),
                F.least(F.col("component"), nbr).alias("component"),
                (nbr < F.col("component")).alias("_changed"),
            )
            .observe(
                observed[-1],
                F.coalesce(
                    F.sum(F.col("_changed").cast("long")), F.lit(0)
                ).alias("n_changed"),
            )
            .drop("_changed")
        )

    with _pinned_partitions(edges.sparkSession, parts):
        labels, _ = _iterate(
            step,
            labels,
            max_iter,
            converged=lambda _prev, _new: observed[-1].get["n_changed"] == 0,
            name="connected_components",
        )
    return labels


def duplicate_clusters(
    doc_pairs: DataFrame,
    documents: DataFrame,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    doc_id: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pairs -> one cluster id per document (singletons included).

    The survivor policy downstream is then trivial: keep
    ``doc_id == cluster`` (the min-id member) and drop the rest.
    """
    return connected_components(
        doc_pairs,
        vertices=documents.select(doc_id),
        src=pair_a,
        dst=pair_b,
        id_col=doc_id,
        max_iter=max_iter,
    ).withColumnRenamed("component", "cluster")


def pagerank_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    tol_fp: int = 1_000_000,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000_000_000,
) -> tuple[DataFrame, int]:
    """:func:`pagerank_fixed_point`'s recursion, stopped at the first
    round where ``max_node |pr' - pr| <= tol_fp`` (fixed-point units,
    i.e. tol_fp/scale of rank mass). Returns ``(ranks, rounds_run)``.

    The integer arithmetic makes the gate deterministic; ``tol_fp=0``
    stops exactly at the integer fixpoint. Running out of ``max_iter``
    warns."""
    return _pagerank(
        edges, src, dst, max_iter, damping_num, damping_den, scale, tol_fp
    )


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping_num: int = 17,
    damping_den: int = 20,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """PageRank with a FIXED iteration count in pure BIGINT fixed-point —
    deterministic across engines and partition orders, so the result is
    hash-gateable (double-accumulated PR depends on partial-sum order).

    Ranks live in units of ``1/scale``; each step is ``pr' = base +
    (damping_num * SUM(pr_in // deg)) DIV damping_den`` with integer
    division at exactly the same points in every engine, so the floor
    losses are identical everywhere.

    Nodes are taken from the edge endpoints (dangling-free when the
    caller symmetrizes an undirected graph, as the co-purchase query
    does); multi-edges count with multiplicity. Returns ``(node,
    pagerank_fp)``.
    """
    return _pagerank(
        edges, src, dst, iters, damping_num, damping_den, scale, None
    )[0]


def _pagerank(
    edges: DataFrame, src: str, dst: str, iters: int, damping_num: int,
    damping_den: int, scale: int, tol_fp: int | None,
) -> tuple[DataFrame, int]:
    # The edge set (with each source's degree) lands once, so no round
    # re-runs the caller's edge generation. Degree is an aggregate +
    # shuffle-hash join over one hash(src) partitioning, not a window: the
    # window sorts the whole edge set (measured 6.0 of 6.6 s at sf0.1).
    spark = edges.sparkSession
    parts = _loop_parts(spark)
    edges_parted = edges.repartition(parts, src)
    degrees = edges_parted.groupBy(src).agg(
        F.count("*").cast("bigint").alias("_deg")
    )
    working = edges_parted.join(
        degrees.hint("shuffle_hash"), src
    ).localCheckpoint()
    deg = working.groupBy(src).agg(F.min("_deg").alias("_deg"))
    # the one-row node count is broadcast into every round
    n_nodes = deg.agg(
        F.count("*").cast("bigint").alias("_n")
    ).localCheckpoint()
    pr = (
        deg.crossJoin(F.broadcast(n_nodes))
        .select(
            F.col(src).alias("node"),
            F.expr(f"CAST({scale} AS BIGINT) DIV _n").alias("pr"),
        )
        .repartition(parts, "node")
        .localCheckpoint()
    )
    base_expr = (
        f"(CAST({(damping_den - damping_num) * scale} AS BIGINT) "
        f"DIV {damping_den}) DIV _n"
    )

    def step(pr: DataFrame) -> DataFrame:
        contrib = working.join(
            pr.hint("shuffle_hash"), working[src] == pr["node"]
        ).select(
            working[dst].alias("_to"),
            F.expr("pr DIV _deg").alias("_c"),
        )
        sums = contrib.groupBy("_to").agg(
            F.sum("_c").cast("bigint").alias("_s")
        )
        return (
            pr.join(sums, pr["node"] == sums["_to"], "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                F.col("node"),
                (
                    F.expr(base_expr)
                    + F.expr(
                        f"({damping_num} * coalesce(_s,"
                        f" CAST(0 AS BIGINT))) DIV {damping_den}"
                    )
                )
                .cast("bigint")
                .alias("pr"),
            )
        )

    def converged(prev: DataFrame, new: DataFrame) -> bool:
        delta = (
            prev.withColumnRenamed("pr", "_pr_old")
            .join(new.hint("shuffle_hash"), "node")
            .agg(F.max(F.abs(F.col("pr") - F.col("_pr_old"))))
            .collect()[0][0]  # driver-ok: one scalar per round
        )
        return delta is not None and delta <= tol_fp

    with _pinned_partitions(spark, parts):
        pr, rounds = _iterate(
            step,
            pr,
            iters,
            converged=None if tol_fp is None else converged,
            name="pagerank_converged",
        )
    return pr.select(F.col("node"), F.col("pr").alias("pagerank_fp")), rounds


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and degrees over an undirected graph.

    ``edges`` lists each undirected edge in either (or both) directions;
    duplicates and self-loops are tolerated — the first step canonicalizes
    to a distinct ``u < v`` set. Returns ``(node, degree, triangles)``
    for every node that has at least one edge (BIGINT counts).

    Scale (the "curse of the last reducer", Suri & Vassilvitskii WWW'11):
    the naive neighbor self-join explodes on hub nodes — a node of degree
    d contributes d^2 wedge candidates, so one celebrity vertex with 10^6
    neighbors emits 10^12 pairs into a single reducer. Degree-ordered
    orientation fixes the skew exactly: direct every undirected edge from
    its lower-``(degree, id)`` endpoint to the higher one. The resulting
    out-degrees are bounded by O(sqrt(m)) REGARDLESS of the input degree
    distribution, every triangle {a,b,c} with rank a < b < c appears
    exactly once (as the wedge (b,c) at a, closed by the oriented edge
    b->c), and the wedge stream carries only (long, long) node-id pairs —
    never payloads. All joins/groupBys here are key-partitioned shuffles
    with map-side partial aggregation; nothing is collected to the driver.

    The canonical edge set and the oriented adjacency are materialized
    with ``localCheckpoint`` (the engine's landing-zone discipline, same
    as the closure loop and the curation pipeline): the algorithm
    references the edge list three times (two wedge sides + the closing
    probe) and the degree table twice, and WITHOUT the pin Catalyst
    re-derives the whole upstream once per reference — measured 47
    parquet scans and zero exchange reuse for the co-purchase query.
    Checkpoint size is the edge list itself (two longs per edge), the
    same thing any multi-pass graph algorithm keeps resident.
    """
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    und = (
        edges.select(u.alias("_u"), v.alias("_v"))
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint()  # landing zone: scanned by deg + orientation
    )
    deg = (
        und.select(F.col("_u").alias("node"))
        .unionByName(und.select(F.col("_v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    # Orientation rank is the (degree, id) pair — a total order, so ties
    # in degree break deterministically by node id.
    ranked = (
        und.join(deg.select(F.col("node"), F.col("degree").alias("_du")), F.col("_u") == F.col("node"))
        .drop("node")
        .join(deg.select(F.col("node"), F.col("degree").alias("_dv")), F.col("_v") == F.col("node"))
        .drop("node")
    )
    lower_first = F.struct(F.col("_du"), F.col("_u")) < F.struct(F.col("_dv"), F.col("_v"))
    oriented = ranked.select(
        F.when(lower_first, F.col("_u")).otherwise(F.col("_v")).alias("s"),
        F.when(lower_first, F.col("_v")).otherwise(F.col("_u")).alias("d"),
        # the destination's rank rides along so wedge pairs can be
        # ordered WITHOUT another degree join
        F.when(lower_first, F.col("_dv")).otherwise(F.col("_du")).alias("d_deg"),
    ).localCheckpoint()  # referenced 3x: two wedge sides + closing probe
    o1 = oriented.select(
        F.col("s"), F.col("d").alias("b"), F.col("d_deg").alias("b_deg")
    )
    o2 = oriented.select(
        F.col("s"), F.col("d").alias("c"), F.col("d_deg").alias("c_deg")
    )
    wedges = o1.join(o2, "s").filter(
        F.struct(F.col("b_deg"), F.col("b")) < F.struct(F.col("c_deg"), F.col("c"))
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select("s", "b", "c")
    corners = (
        tri.select(F.col("s").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0).cast("bigint")).alias(
                "triangles"
            ),
        )
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007), made deterministic.

    Every node starts labeled with its own id; each round every node
    adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label (the classic algorithm breaks ties randomly —
    useless under a cross-engine hash gate, so the tie rule is pinned).
    Exactly ``iters`` synchronous rounds run — no convergence test:
    synchronous LPA can 2-cycle on bipartite structures, and a fixed
    round count is what two engines can replay bit-for-bit.

    Returns ``(node, community)`` for every node with at least one edge.

    Per round: :func:`_neighbor_counts`, then the argmax as a combinable
    max over struct(count, -label), never a window.
    """
    spark = edges.sparkSession
    parts = _loop_parts(spark)
    with _pinned_partitions(spark, parts):
        und = _undirected(edges, src, dst)

        def step(labels: DataFrame) -> DataFrame:
            counts = _neighbor_counts(und, labels, "lab", parts)
            # ids are non-negative longs, so max(-label) on count ties
            # picks the smallest label
            return (
                counts.groupBy("node")
                .agg(
                    F.max(
                        F.struct(F.col("c"), (-F.col("lab")).alias("_nl"))
                    ).alias("_m")
                )
                .select("node", (-F.col("_m._nl")).alias("lab"))
            )

        labels = (
            und.select(F.col("_s").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("lab"))
        )
        labels, _ = _iterate(step, labels, iters, name="label_propagation")
    return labels.select("node", F.col("lab").alias("community"))


def _kcore(
    edges: DataFrame, src: str, dst: str, rounds: int,
    converged: _Probe | None = None, min_rounds: int = 1,
) -> tuple[DataFrame, int]:
    """Synchronous H-index rounds from each node's degree; returns
    ``((node, coreness), rounds_run)``. Per round: the neighbors' (h, c)
    histogram (:func:`_neighbor_counts`) folded by ``_HINDEX``."""
    spark = edges.sparkSession
    parts = _loop_parts(spark)
    hindex = F.expr(_HINDEX)
    with _pinned_partitions(spark, parts):
        und = _undirected(edges, src, dst)

        def step(vals: DataFrame) -> DataFrame:
            hist = _neighbor_counts(und, vals, "h", parts)
            return hist.groupBy("node").agg(hindex.alias("h"))

        vals = und.groupBy(F.col("_s").alias("node")).agg(
            F.count("*").cast("bigint").alias("h")
        )
        vals, rounds_run = _iterate(
            step,
            vals,
            rounds,
            converged=converged,
            min_rounds=min_rounds,
            name="kcore_converged (h-index)",
        )
    return vals.select("node", F.col("h").alias("coreness")), rounds_run


def kcore_decomposition(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Coreness (k-core number) per node by synchronous H-index
    iteration — Lu, Zhou, Zhang & Stanley, "The H-index of a network
    node and its relation to degree and coreness" (Nature
    Communications 7:10168, 2016): start every node at its degree and
    repeatedly replace each node's value with the H-index of its
    neighbors' values. The sequence decreases monotonically and its
    fixpoint IS the coreness, so at any finite ``rounds`` the returned
    ``coreness`` column is a MONOTONE UPPER BOUND on the true core
    number — exact only once ``rounds`` reaches the graph's convergence
    depth (tests/test_winnow_triangles.py measures the gap against an
    exact Batagelj-Zaversnik peel twin: at the default 6 rounds the
    bound is within +1 at sf0.001, +2 at sf0.1; exactness there needs
    ~18 rounds). Callers needing exact coreness use
    :func:`kcore_converged`.

    Exactly ``rounds`` rounds run — no convergence test — so an
    unrolled SQL oracle replays the recurrence bit-for-bit, and extra
    rounds past the fixpoint are stationary.

    Returns ``(node, coreness)`` for every node with at least one edge
    (BIGINT, hash-gateable). After round one a hub's histogram is
    bounded by the coreness range, not its degree.
    """
    return _kcore(edges, src, dst, rounds)[0]


def kcore_converged(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
    min_rounds: int = 1,
) -> "tuple[DataFrame, int]":
    """:func:`kcore_decomposition`'s recurrence, stopped at the first
    round where no node's value changes. The per-node sequence is a
    monotone decreasing integer sequence, so that stationary round IS
    the fixpoint and the result is the exact coreness, not a bound.
    Returns ``(frame, rounds_run)``, ``rounds_run`` counting the
    stationary round. Running out of ``max_rounds`` warns.

    The probe is a ``limit(1)`` anti-equality join of the two rounds'
    values. ``min_rounds``: rounds below it are not probed — for
    callers that know a lower bound on the depth. Values are identical
    either way (extra rounds past the fixpoint are stationary); a graph
    converging below ``min_rounds`` reports the first probed stationary
    round."""

    def unchanged(prev: DataFrame, new: DataFrame) -> bool:
        return (
            new.withColumnRenamed("h", "_hn")
            .join(prev, "node")
            .filter(F.col("_hn") != F.col("h"))
            .limit(1)
            .count()
            == 0
        )

    return _kcore(edges, src, dst, max_rounds, unchanged, min_rounds)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "node",
) -> DataFrame:
    """Multi-source BFS hop distances: for every node reachable from
    ``sources`` within ``rounds`` hops, the exact minimum hop count —
    the neighborhood/reachability primitive (influence radius, blast-
    radius audits, seed-expansion sampling).

    Exactly ``rounds`` synchronous frontier expansions run, so an
    unrolled SQL oracle replays the recurrence bit-for-bit; a node at
    distance d is final once d <= rounds (later rounds only offer
    larger values, which the min rejects). Nodes farther than
    ``rounds`` are absent from the result.

    Returns ``(node, hops)`` — BIGINT, hash-gateable.

    Per round one join (distances x edges on the source endpoint) + one
    combinable min per node. The frontier is not delta-tracked: at small
    fixed ``rounds`` the full-table join is at most ``rounds`` x the
    delta version's work and keeps the recurrence engine-replayable.
    """
    spark = edges.sparkSession
    with _pinned_partitions(spark, _loop_parts(spark)):
        und = _undirected(edges, src, dst)

        def step(dist: DataFrame) -> DataFrame:
            offers = und.join(
                dist.withColumnRenamed("node", "_s"), "_s"
            ).select(
                F.col("_d").alias("node"),
                (F.col("hops") + F.lit(1).cast("bigint")).alias("hops"),
            )
            return (
                dist.unionByName(offers)
                .groupBy("node")
                .agg(F.min("hops").alias("hops"))
            )

        dist = sources.select(
            F.col(id_col).alias("node"), F.lit(0).cast("bigint").alias("hops")
        ).distinct()
        dist, _ = _iterate(step, dist, rounds, name="bfs_distances")
    return dist
