"""Connected components over an edge DataFrame — iterative joins, no
GraphFrames (the north star allows "GraphFrames OR iterative-join"; no
GraphFrames jar ships in this sandbox, and iterative joins keep the engine
dependency-free).

Algorithm: min-label propagation. label(v) starts as v; each round every
node takes the min label over itself and its neighbors; stop when no label
changes. Rounds = graph diameter, which for ER/dedup candidate graphs is
tiny (alias clusters, near-dup clusters). Each round is one shuffle join +
one aggregation; lineage is truncated every round with localCheckpoint so
plans don't grow (the classic iterative-DataFrame pitfall).

Scale notes: labels and edges are both keyed by node id (long) so the join
partitioning is reused round to round; AQE coalesces/splits as needed. For
web-graph-diameter inputs swap in large-star/small-star — the driver loop
below is the only thing that would change.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _star_contraction(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    'Connected Components in MapReduce and Beyond') — O(log n) rounds on any
    graph shape, vs O(diameter) for plain label propagation. Public
    algorithm, DataFrame formulation:

      large-star: for each node u with neighborhood G(u),
                  m = min(G(u) u {u}); emit (v, m) for v in G(u), v > u
      small-star: orient edges (u = max, v = min); per u,
                  m = min neighbor; emit (v, m) for v in G(u) u {u}, v != m

    Converged when the edge set is stable (checked by count + order-
    independent hash-sum; both must match). At convergence edges form stars
    (node -> component-min root).

    PRECONDITION: `edges` is already (u, v), self-loop-free, distinct, and
    lineage-truncated (localCheckpoint) by the caller — every iteration and
    the caller's node derivation re-reference it, and an unmaterialized
    upstream DAG would be recomputed once per reference.

    r7 round-shape notes (A/B-measured at local[32] on the bench ER graph,
    60k nodes of alias 3-cliques — BENCH/samples/round_7_ab_cc_star.json):
    - The pre-r7 `directed = greatest/least + distinct` re-orientation was
      an IDENTITY: every ls row (u', v') = (old v, m) already has u' > v',
      because m = min(G(u) ∪ {u}) <= u < v under the large-star v > u
      filter (and for the same reason ls carries no self-loops, so its
      u != v filter was dead too). Both dropped — one fewer
      exchange+aggregate per round, bit-identical e_next.
    - Convergence is detected STRUCTURALLY instead of by comparing
      consecutive edge-set signatures: the algorithm's fixed point is
      exactly a min-rooted star forest (Kiveris et al.), i.e. every child
      has ONE parent, no parent is itself a child, and u > v on every edge
      (the last holds by construction here). _is_star_forest checks that
      with one tiny aggregation job on the freshly materialized e_next —
      the signature scheme needed one further FULL contraction round purely
      to confirm stability (sig(round k+1) == sig(round k)), which on a
      fast-converging ER graph doubled the round count. A star forest is
      stable under both contractions (large-star maps every (child, root)
      to (child, min(G(root) ∪ {root})) = (child, root); small-star
      re-emits the same stars), so breaking here returns the identical
      edge set the signature loop returned one round later.
    - An explicit repartition(n, u)-per-frame variant (3 exchanges/round
      instead of ~7) was ALSO tried and is 2x SLOWER here: with AQE every
      one of these tiny exchanges coalesces to ~1 task and the joins
      demote to broadcast, so wall time is stage-count x scheduler
      latency, which the fixed-width repartitions inflate. Kept the
      AQE-friendly shape; at true scale the exchanges carry real bytes and
      AQE sizes them — the round count, not the per-round plan, is the
      scale lever (O(log n))."""
    e = edges

    def _is_star_forest(df: DataFrame) -> bool:
        # one aggregation: per node, how many edges it is a child (u) of
        # and how many it touches; bad node = two parents, or both roles
        bad = (
            df.select(F.col("u").alias("node"), F.lit(1).alias("c"))
            .union(df.select(F.col("v").alias("node"), F.lit(0).alias("c")))
            .groupBy("node")
            .agg(F.sum("c").alias("nc"), F.count("*").alias("tot"))
            .filter(
                (F.col("nc") >= 2)
                | ((F.col("nc") >= 1) & (F.col("tot") > F.col("nc")))
            )
            .limit(1)
            .count()
        )
        return bad == 0

    converged = False
    for _ in range(max_iter):
        # ---- large star
        bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
        m = mins.select("u", F.least("u", "mn").alias("m"))
        ls = (
            bidir.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # ---- small star (ls is already min-oriented u > v, see docstring)
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss_nbrs = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ss_self = mins2.select(F.col("u"), F.col("m").alias("v"))
        e_next = (
            ss_nbrs.union(ss_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        e = e_next
        if _is_star_forest(e_next):
            converged = True
            break
    if not converged:
        warnings.warn(
            f"star contraction did not converge within max_iter={max_iter} "
            "rounds; returned component labels may be WRONG (raise max_iter "
            "— star contraction needs only O(log n) rounds)",
            RuntimeWarning,
            stacklevel=2,
        )
    return e  # star edges: (node, root)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_threshold: int = 200_000,
    algorithm: str = "auto",
) -> DataFrame:
    """edges(src long, dst long) -> (node long, comp long); comp is the min
    node id reachable. Nodes appearing only in edges are covered; pass
    isolated nodes as self-loops if they must appear.

    Size-adaptive physical strategy (same idea as broadcast-vs-shuffle join
    selection): an edge set under `driver_threshold` is collected and solved
    with union-find on the driver — one job instead of ~4 iterations x
    joins, which at small sizes are pure scheduler latency. Larger graphs
    take the distributed min-label-propagation path below. Both paths are
    deterministic and produce identical labels."""
    spark = edges.sparkSession

    # ONE normalized, lazily-checkpointed edge frame shared by the
    # preflight probe AND whichever execution path runs. Pre-r6-cont. the
    # probe was built on the raw input while the distributed paths
    # checkpointed a separate frame, so an expensive upstream (the
    # MinHash-LSH pair chain in er_canon / curate_corpus) executed TWICE —
    # once for the probe job, once for the real path (caught by the
    # stage-byte ledger: byte-identical duplicate stage pairs).
    # Checkpoint-block lifetime: on the driver (small-graph) path the
    # probe leaves `e`'s partitions cached past the return; they are
    # bounded by driver_threshold rows and reclaimed by Spark's
    # ContextCleaner once this frame is unreferenced (the driver path
    # returns a frame built from scratch) — no explicit unpersist API
    # reaches localCheckpoint storage.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=False
    )

    # Strategy preflight: probe size with a limited COUNT (early-stops the
    # scan at threshold+1 rows, ships one long to the driver) and collect
    # the edge rows only when the small path is actually taken. Collecting
    # the probe directly would materialize up to `driver_threshold` Row
    # objects on the driver even for a 10^12-edge input. Partitions the
    # probe does compute persist into the shared checkpoint, so the real
    # path completes the remainder instead of starting over. Skipped
    # entirely when driver_threshold <= 0 (the caller pinned a
    # distributed path; the probe would be a wasted job).
    lim = e.limit(driver_threshold + 1)
    if driver_threshold > 0 and lim.count() <= driver_threshold:
        head = lim.collect()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in head:
            for n in (r["u"], r["v"]):
                parent.setdefault(n, n)
        for r in head:
            ra, rb = find(r["u"]), find(r["v"])
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        rows = [(n, find(n)) for n in parent]
        if not rows:
            return spark.createDataFrame([], "node long, comp long")
        return spark.createDataFrame(rows, "node long, comp long")

    if algorithm in ("auto", "star"):
        # large graphs: star contraction, O(log n) rounds on any shape
        # (min-label propagation below needs O(diameter) rounds).
        # `e` (shared, checkpointed above) is the one lineage truncation:
        # node derivation + every contraction round re-reference the edge
        # set, and without the checkpoint each reference would recompute
        # the (possibly very expensive — e.g. MinHash-LSH) upstream DAG.
        # This recompute was the round-1 `er_canon` anomaly: higher core
        # counts made the replayed upstream strictly more expensive.
        e_clean = (
            e.filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        stars = _star_contraction(e_clean, max_iter)
        all_nodes = (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .distinct()
        )
        labeled = stars.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        return (
            all_nodes.join(labeled, "node", "left")
            .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
        )

    # bidir + the node universe re-reference the edge set 4x; `e` (shared,
    # checkpointed above) keeps that to one computation
    bidir = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            bidir.join(labels, bidir["v"] == labels["node"])
            .groupBy(F.col("u").alias("node2"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # lazy localCheckpoint: the convergence count below is the ONLY
        # action per iteration and materializes the checkpoint as it runs
        # (eager=True would cost a second full job per round)
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["node2"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                (F.col("nbr_comp") < F.col("comp")).alias("_changed"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"min-label propagation did not converge within max_iter="
            f"{max_iter} rounds; returned component labels may be WRONG "
            "(label propagation needs O(diameter) rounds — raise max_iter "
            "or use algorithm='star')",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels
