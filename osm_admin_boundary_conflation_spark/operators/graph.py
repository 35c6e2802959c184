"""Distributed connected components for dedup-cluster resolution, plus
two other fixpoint graph operators on the same checkpoint-per-round
shape: ``temporal_reachability`` and ``k_truss``.

Near-dup detection (MinHash/SimHash/LSH) emits PAIRS; turning pairs into
dedup GROUPS ("keep one doc per cluster") is a connected-components
problem over the pair graph. The reference resolves duplicate ways into a
single representative per identical-geometry group
(reference: conflate-boundaries.py:214-258 picks one way per duplicate
set); this generalizes that to transitive near-dup chains at corpus
scale.

Two algorithms, same contract:

- ``minlabel`` — iterative min-label propagation to a fixpoint. Each
  round is ONE Spark job (edge join + groupBy min + eager
  localCheckpoint; the changed-row count rides the same job via
  ``df.observe``, so convergence costs no extra action). Rounds needed =
  graph diameter — right for the shallow components near-dup graphs
  produce.
- ``star`` — alternating large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", 2014): converges in
  O(log^2 n) rounds regardless of diameter, the scale path for
  adversarially long chains (a 10^6-node path converges in ~log rounds
  where min-label needs 10^6).

Every round cuts lineage with localCheckpoint so the plan never grows
unboundedly, and the input edge list is checkpointed ONCE so upstream
producers (e.g. a whole MinHash-LSH verify pipeline) never re-execute
per round.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Label every node with the MIN node id in its connected component.

    nodes: one column ``id`` (bigint). edges: columns ``src``, ``dst``
    (undirected; either orientation). Returns (id, cluster_id) —
    singletons get cluster_id = id.

    Deterministic: the fixpoint of both algorithms is unique regardless
    of iteration order or partitioning. Raises RuntimeError if the
    fixpoint is NOT reached within ``max_iter`` rounds — non-converged
    labels are silently wrong, so exhaustion is an error, never a
    result (switch to ``algorithm='star'`` for high-diameter graphs).
    """
    if algorithm == "star":
        return _cc_star(nodes, edges, max_iter)
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}")

    # materialize the symmetric edge list ONCE — upstream edge producers
    # must not re-execute on every propagation round
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)

    changed = None
    for _ in range(max_iter):
        # min label among neighbours (one shuffle: join on v + groupBy u)
        neigh = (
            sym.join(labels.select(F.col("id").alias("v"), "label"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        # the changed-row count is observed on the SAME job that
        # materializes the checkpoint — one Spark job per round total
        obs = Observation()
        new = (
            labels.select("id", F.col("label").alias("old"))
            .join(neigh.select(F.col("u").alias("id"), "nlabel"), "id", "left")
            .select(
                "id",
                "old",
                F.least("old", F.coalesce("nlabel", "old")).alias("label"),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("old")).cast("long")).alias("changed"),
            )
            .select("id", "label")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        labels = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components(minlabel) did not converge in {max_iter} "
            f"rounds ({changed} labels still changing) — the component "
            "diameter exceeds max_iter; raise max_iter or use "
            "algorithm='star'"
        )

    return labels.select("id", F.col("label").alias("cluster_id"))


def _orient(e: DataFrame) -> DataFrame:
    """(u, v) with u > v, self-loops dropped, deduplicated."""
    return (
        e.select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger
    neighbours to the min of its neighbourhood (including itself)."""
    sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return _orient(
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node re-points its smaller neighbours
    (and itself) at the neighbourhood min. Input must be oriented
    u > v (which _orient and _large_star both guarantee)."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    repointed = (
        e.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return _orient(repointed.union(self_edges))


def _cc_star(nodes: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al. 2014).

    Per round: one large-star + one small-star (two shuffle stages) and
    ONE materializing job whose ``observe`` carries an exact edge count
    plus an order-independent hash fingerprint of the edge set. Two
    consecutive identical (count, fingerprint) pairs mean the edge set
    reached its fixpoint: a forest of stars whose centers are the
    component minima. The fingerprint is bit_xor(xxhash64(u, v)) —
    order-independent, overflow-free (XOR never overflows, unlike a
    modular sum), exact on a distinct edge set. The residual risk is a
    (count, fingerprint) collision between two DIFFERENT consecutive
    edge sets, which would stop the loop EARLY with wrong labels — not
    a delayed stop (ADVICE r04 item 2). Accepted as negligible: the
    count must match exactly AND the 64-bit xor must collide,
    ~2^-64 per round.
    """
    cur = _orient(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    ).localCheckpoint(eager=True)

    prev_fp = None
    converged = False
    for _ in range(max_iter):
        obs = Observation()
        nxt = (
            _small_star(_large_star(cur))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("fp"),
            )
            .localCheckpoint(eager=True)
        )
        fp = (obs.get["n"], obs.get["fp"])
        cur = nxt
        if fp == prev_fp:
            converged = True
            break
        prev_fp = fp
    if not converged:
        raise RuntimeError(
            f"connected_components(star) did not converge in {max_iter} rounds"
        )

    # at the fixpoint every non-center node carries exactly one edge to
    # its component min; groupBy-min is a no-op safety net
    centers = cur.groupBy("u").agg(F.min("v").alias("cluster_id"))
    return (
        nodes.select("id")
        .join(centers.select(F.col("u").alias("id"), "cluster_id"), "id", "left")
        .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
    )


def temporal_reachability(
    edges: DataFrame, source: int, max_rounds: int = 20
) -> DataFrame:
    """Earliest-arrival time-respecting reachability (Holme & Saramäki,
    temporal networks): a path may only traverse an edge whose timestamp
    is >= the arrival time at its tail. Synchronous relaxation of
    arr(v) = min{ t : (u, v, t) in E, t >= arr(u) }, one Spark job per
    round (edge join + min fold + Observation-carried changed count),
    converging because arrivals only decrease and are bounded below.
    Exhaustion raises. edges: (src, dst, t) bigint; the source starts
    at arrival -1 (before all edge times). Returns (id, arr).
    """
    e = edges.select("src", "dst", F.col("t").cast("long")).localCheckpoint(eager=True)
    spark = edges.sparkSession
    arr = spark.createDataFrame([(source, -1)], "id long, arr long").localCheckpoint(
        eager=True
    )
    changed = None
    for _ in range(max_rounds):
        cand = (
            arr.join(e, arr.id == e.src)
            .filter(F.col("t") >= F.col("arr"))
            .select(F.col("dst").alias("id"), F.col("t").alias("arr"), F.lit(0).alias("is_old"))
        )
        obs = Observation()
        new = (
            arr.select("id", "arr", F.lit(1).alias("is_old"))
            .unionByName(cand)
            .groupBy("id")
            .agg(
                F.min("arr").alias("arr"),
                F.min(F.when(F.col("is_old") == 1, F.col("arr"))).alias("old_arr"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("old_arr").isNull() | (F.col("arr") < F.col("old_arr"))).cast(
                        "long"
                    )
                ).alias("changed"),
            )
            .select("id", "arr")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        arr = new
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"temporal_reachability did not converge in {max_rounds} rounds"
        )
    return arr


def k_truss(edges: DataFrame, k: int, max_rounds: int = 20) -> DataFrame:
    """The k-truss: the maximal subgraph where EVERY edge sits in at
    least k-2 triangles (Cohen 2008) — a cohesion filter strictly
    stronger than the k-core, the community-detection workhorse for
    link graphs. Synchronous peeling: each round computes per-edge
    triangle SUPPORT as |N(a) ∩ N(b)| via two adjacency joins (the
    wedge-closure shape; orient each edge from lower to higher degree
    first when hub degrees explode the plain join), drops edges below k-2,
    and repeats until stable — convergence checked on the surviving
    edge count (monotone set, so equal counts mean equal sets), ridden
    on the checkpoint job via ``observe``. Raises on exhaustion.
    edges: (src, dst) undirected. Returns surviving canonical edges
    (a, b, support)."""
    cur = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    need = k - 2
    n_prev = None
    for _ in range(max_rounds):
        adj = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        obs = Observation()
        sup = (
            cur.join(adj.select(F.col("u").alias("a"), F.col("v").alias("w1")), "a")
            .join(
                adj.select(F.col("u").alias("b"), F.col("v").alias("w2")), "b"
            )
            .filter(F.col("w1") == F.col("w2"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= need)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_new = obs.get["n"] or 0
        cur = sup.select("a", "b")
        if n_new == n_prev:
            return sup
        n_prev = n_new
        if n_new == 0:
            return sup
    raise RuntimeError(f"k_truss did not stabilize in {max_rounds} rounds")
