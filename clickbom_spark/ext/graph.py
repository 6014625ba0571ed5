"""Iterative graph algorithms as join-relay ("Pregel via joins") plans.

PageRank here is the representative iterative algorithm: each
iteration is one shuffle (edges joined to current ranks, grouped by
destination).  Determinism across engines is the hard part — floating
sums are order-dependent — so per-edge contributions are rounded to a
fixed decimal scale and summed EXACTLY as decimals, then the damping
update runs in double with a fixed operation order.  This makes the
result bit-identical to a SQL replay of the same fold (the oracle
unrolls the same iterations as CTEs).

Scale: state per iteration is one (node, rank) row per node; edges are
re-joined from the (cached) edge relation each round; no driver-side
state.  For many iterations, localCheckpoint every few rounds cuts
lineage (same pattern as ext/dedup.py's label propagation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickbom_spark.ext.scale import plan_size_bytes

# Contribution rounding scale: exact decimal sums make the per-node
# reduce order-independent (rank values are O(1) under the n-normalized
# start, so 6 decimals keeps ~6 significant digits).
_SCALE = 6
_DEC = f"decimal(28,{_SCALE})"


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    assume_distinct: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list; returns (node, rank).

    Ranks are n-normalized (start 1.0 per node, sum ≈ n).  Dangling
    nodes keep the teleport term only.  ``iterations`` fixed small —
    each iteration is exactly one shuffle.

    ``assume_distinct``: the caller guarantees ``edges`` already has
    no duplicate (src, dst) rows, so the dedup exchange is skipped —
    duplicate edges would otherwise inflate out-degrees and
    contributions, so only set it when distinctness holds by
    construction.

    Broadcast gate: the per-iteration (node, rank) vector is
    hard-hinted onto the edge partitions when
    ``0 < plan_size_bytes(ranks) <= spark.sql.autoBroadcastJoinThreshold``
    (Spark's own parse of the setting, so ``-1`` turns the hint off).
    The estimate comes from plan statistics, so no job runs before
    iteration 1; it is an upper bound, so the gate can only drop a
    viable hint, never force an oversized one.  The hint is kept rather
    than left to AQE because AQE converts the join only after the edge
    shuffle has run: at sf0.1 the unhinted operator took 7.56 s against
    3.78 s with the hint (4-core host).

    Materialization: the loop-invariant relations are persisted, the
    final ranks are ``localCheckpoint``-ed, and the invariants are
    released before returning, so each call leaves exactly one
    persistent RDD — the returned checkpoint.  Dropping the persist and
    the checkpoint (a lazy plan) re-runs the edge dedup and degree
    shuffle inside every iteration: ``q_pagerank_parts`` went from
    6.81 s to 8.84 s at sf0.1.
    """
    edges = edges.select(src, dst)
    if not assume_distinct:
        edges = edges.distinct()
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        # Loop-invariant relations are persisted: without this, lazy
        # evaluation re-runs the edge distinct + degree shuffle inside
        # EVERY iteration (iterations × the scan cost).  On a cluster
        # this is MEMORY_AND_DISK-backed; same call works in local mode.
        .persist()
    )
    outdeg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    # Pre-join degree onto edges once — one join per iteration instead
    # of two, and the joined relation is reused by every round.
    edges_deg = edges.join(outdeg, src).select(src, dst, "outdeg").persist()
    ranks = nodes.withColumn("rank", F.lit(1.0))
    thresh = (
        edges.sparkSession._jsparkSession.sessionState().conf()
        .autoBroadcastJoinThreshold()
    )
    size = plan_size_bytes(ranks)
    broadcast_ranks = size is not None and 0 < size <= thresh
    # The decimal(28,6) per-edge contribution of the SQL replay is
    # carried as its exact unscaled long (value × 10^6): the long sum
    # equals the decimal sum digit-for-digit (both are exact integer
    # arithmetic on the same scale-6 integers), and the final
    # long → decimal → double conversion below reproduces the oracle's
    # CAST(decimal AS DOUBLE) correct rounding.  Long partial sums run
    # in whole-stage codegen; decimal(28,6) sums fall back to
    # BigDecimal per row.  Headroom: Σ scaled contributions per node
    # is bounded by the total rank mass ≈ n × 10^6, so longs hold to
    # ~9×10^12 nodes.
    mult = 10 ** _SCALE
    for _ in range(iterations):
        r = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = edges_deg.join(
            r, edges_deg[src] == r["node"]
        ).select(
            F.col(dst).alias("node"),
            (F.round(F.col("rank") / F.col("outdeg"), _SCALE).cast(_DEC)
             * mult).cast("long").alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # exact decimal re-scale (never long → double directly: above
        # 2^53 that would round twice), then ONE correctly-rounded
        # cast to double — identical to casting the decimal(28,6) sum
        s_dbl = (
            F.col("s").cast("decimal(38,0)") / F.lit(mult)
        ).cast("double")
        ranks = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(s_dbl, F.lit(0.0))
            ).alias("rank"),
        )
    # Materialize the final ranks (truncating the iteration lineage),
    # then release the loop-invariant blocks — repeated calls must not
    # accumulate persisted relations in the block manager.
    out = ranks.localCheckpoint(eager=True)
    nodes.unpersist()
    edges_deg.unpersist()
    return out


def reachable(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Breadth-first reachability: (node, hop) with hop = minimum
    distance from the seed set, bounded by ``max_hops``.

    Frontier expansion with per-level dedup: each round joins ONLY the
    current frontier (not all visited paths) against the edge list and
    anti-joins the visited set, so work per round is O(frontier-degree)
    and the path-count explosion of naive transitive closure never
    happens.  Same shape as the oracle's recursive CTE with UNION
    (set) semantics.
    """
    visited = seeds.select(F.col("node")).distinct().withColumn("hop", F.lit(0))
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier, edges[src] == frontier["node"])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            # frontier is re-used twice next round (join + anti-join
            # base); materialize to keep each level a single pass
            .localCheckpoint(eager=True)
        )
        visited = visited.unionAll(nxt.withColumn("hop", F.lit(hop)))
        frontier = nxt
    return visited


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 64,
) -> DataFrame:
    """BFS to CONVERGENCE: (node, hop) with hop = exact minimum
    distance from the seed set, iterating until the frontier drains
    (``max_hops`` is a runaway backstop, not a semantic bound — unlike
    :func:`reachable`, which answers a k-hop question).

    Each round is one frontier-degree-bounded join + anti-join against
    the visited set, checkpoint-truncated, so lineage stays flat over
    an unknown diameter and work per round never exceeds
    O(frontier out-degree) — the textbook distributed BFS.  The empty
    check rides the same materialized frame the next round would join,
    so convergence detection adds no extra pass.
    """
    visited = seeds.select(F.col("node")).distinct().withColumn(
        "hop", F.lit(0)
    )
    frontier = visited.select("node").localCheckpoint(eager=True)
    for hop in range(1, max_hops + 1):
        nxt = (
            edges.join(frontier, edges[src] == frontier["node"])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionAll(nxt.withColumn("hop", F.lit(hop)))
        frontier = nxt
    return visited


def triangle_count(
    edges: DataFrame, src: str = "u", dst: str = "v",
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact triangle count of an undirected graph via degree-ordered
    orientation (Schank & Wagner 2005) — the standard distributed
    shape: orient every edge from the (degree, node)-smaller endpoint
    to the larger, so each triangle matches the wedge-close join
    exactly once AND per-node out-degree is bounded by O(sqrt(E)),
    keeping the wedge join's output near-linear on skewed real-world
    graphs (a hub of degree d contributes min(d, sqrt(E))^2 wedges
    instead of d^2).

    Input edges may be duplicated, directed, or self-looped; they are
    canonicalized first.  ``assume_canonical=True`` asserts the caller
    guarantees the edge set is ALREADY canonical — duplicate-free,
    self-loop-free, ``src < dst`` on every row (e.g. it is the output
    of a ``groupBy(src, dst)`` with a ``src < dst`` filter) — and
    skips the canonicalization shuffle (a full distinct exchange of
    the edge set).  Returns one row
    (n_nodes, n_edges, n_triangles).  All equi-joins — at 100 TB this
    is three hash joins on node keys, no cross product anywhere.
    """
    u, v = F.col(src), F.col(dst)
    # The canonical edge set is consumed three times (degrees, the
    # orientation join, the edge count) and the oriented set three
    # more (ab/bc/ac) — materialize each once so the caller's edge
    # PIPELINE (often an expensive basket build) runs exactly once
    # instead of ~6x.  O(E) working set, the algorithm's own size.
    if assume_canonical:
        e = edges.select(u.alias("eu"), v.alias("ev"))
    else:
        e = (
            edges.where(u != v)
            .select(
                F.least(u, v).alias("eu"), F.greatest(u, v).alias("ev")
            )
            .distinct()
        )
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.explode(F.array("eu", "ev")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.withColumnRenamed("n", "eu"), "eu")
        .withColumnRenamed("d", "du")
        .join(
            deg.withColumnRenamed("n", "ev").withColumnRenamed("d", "dv"),
            "ev",
        )
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("eu") < F.col("ev"))
    )
    oriented = keyed.select(
        F.when(lower_first, F.col("eu")).otherwise(F.col("ev")).alias("a"),
        F.when(lower_first, F.col("ev")).otherwise(F.col("eu")).alias("b"),
    ).localCheckpoint(eager=True)
    # wedge a->b, b->c closed by a->c
    ab = oriented.select(F.col("a"), F.col("b"))
    bc = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    ac = oriented.select(
        F.col("a").alias("ta"), F.col("b").alias("tc")
    )
    tri = ab.join(bc, "b").join(
        ac, (F.col("ta") == F.col("a")) & (F.col("tc") == F.col("c"))
    )
    # n_nodes and n_edges both ride the degree aggregate: every edge
    # contributes exactly 2 to the total degree, so sum(d) DIV 2 (an
    # exact integer — the sum is always even) equals the edge count.
    # One aggregate subtree instead of two separate count jobs over e
    # and deg.
    counts = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        # coalesce: an EMPTY edge set makes sum(d) NULL, and the row
        # must stay (0, 0, 0) like the plain count shape returned
        F.coalesce(F.sum("d"), F.lit(0)).alias("_sd"),
    ).select("n_nodes", F.expr("_sd DIV 2").cast("long").alias("n_edges"))
    return counts.crossJoin(
        tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    ).select("n_nodes", "n_edges", "n_triangles")


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (LPA, Raghavan et al. 2007 —
    public algorithm) with a DETERMINISTIC tie-break: every node
    starts with its own id as label; each round every node adopts the
    label occurring most among its neighbors, ties broken toward the
    SMALLEST label, isolated-in-round nodes keep their label.
    Returns (node, label) after exactly ``rounds`` synchronous rounds
    — fixed-round semantics make the result replayable by a chained
    relational oracle (one CTE per round), unlike the usual
    until-convergence LPA whose round count is data-dependent.

    Each round is ONE edge-sized equi-join + (node, label) hash
    aggregate + max_by — no driver-side state, no all-pairs work; the
    per-round result is checkpoint-truncated so lineage stays flat.
    ``edges`` must carry BOTH directions of each undirected edge.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )
    for _ in range(rounds):
        neigh = (
            edges.join(labels, edges[dst] == labels["node"])
            .select(F.col(src).alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # most-frequent label, ties to the SMALLEST label: min of
            # (-cnt, label) — cnt is always a count so negation is
            # safe, and the label itself is never negated, keeping the
            # tie-break correct for NON-numeric node ids too
            .groupBy("node")
            .agg(
                F.min_by(
                    F.col("label"), F.struct(-F.col("cnt"), F.col("label"))
                ).alias("new_label")
            )
        )
        labels = (
            labels.join(neigh, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983, public algorithm):
    each round computes every node's degree over the SURVIVING edge
    set, removes nodes with degree < ``k``, and drops their incident
    edges.  Runs exactly ``rounds`` synchronous rounds — fixed-round
    semantics keep the result replayable by a chained relational
    oracle (one degree-filter CTE pair per round), the same contract
    as :func:`label_propagation`.  Until-convergence peeling is the
    fixpoint of this operator.

    ``edges`` must carry BOTH directions of each undirected edge, so
    degree is one hash aggregate on ``src``.  Each round is one
    aggregate plus two semi-join-shaped equi-joins on the shrinking
    survivor set — no driver-side state; the per-round edge set is
    checkpoint-truncated so lineage stays flat.  Returns the surviving
    directed edge list after ``rounds`` rounds.
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("src")
        )
        e = (
            e.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return e
