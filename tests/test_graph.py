"""PageRank operator: ground-truth fold on a tiny graph + invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickbom_spark.ext.graph import pagerank
from tests.conftest import SF_SMOKE

EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]


def _expected(iterations, damping=0.85, scale=6):
    nodes = sorted({n for e in EDGES for n in e})
    outdeg = {}
    for s, _ in EDGES:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        acc = {n: 0 for n in nodes}  # exact decimal sum via int micros
        for s, d in EDGES:
            acc[d] += round(rank[s] / outdeg[s], scale) * 10**scale
        rank = {
            n: (1.0 - damping) + damping * (round(acc[n]) / 10**scale)
            for n in nodes
        }
    return rank


def test_pagerank_matches_reference_fold(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(edges, iterations=3).collect()}
    want = _expected(3)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, (n, got[n], want[n])


def test_pagerank_dangling_node_keeps_teleport_only(spark):
    # "d" has no in-edges: rank stays at the teleport term every round.
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(edges, iterations=2).collect()}
    assert abs(got["d"] - 0.15000000000000002) < 1e-15


def test_pagerank_rank_mass_bounded(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    ranks = pagerank(edges, iterations=3)
    total = ranks.agg(F.sum("rank")).first()[0]
    # n-normalized: total mass stays within teleport/damping bounds of n.
    assert 0.15 * 4 <= total <= 1.01 * 4


def test_reachable_min_hops_ground_truth(spark):
    from clickbom_spark.ext.graph import reachable

    #   a -> b -> c -> d,  a -> c (shortcut), e isolated from seeds
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.hop for r in reachable(edges, seeds, max_hops=3).collect()}
    # min-distance semantics: c reached at hop 1 via the shortcut
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_reachable_hop_bound_respected(spark):
    from clickbom_spark.ext.graph import reachable

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r.node: r.hop for r in reachable(edges, seeds, max_hops=2).collect()}
    assert "d" not in got and got["c"] == 2


def test_pagerank_exotic_broadcast_threshold_conf_does_not_crash(spark):
    """The gate must survive any conf string Spark itself accepts: it
    reads Spark's own parse of the threshold, so the full unit set
    ('1t', '1p') works at plan build, and -1 (broadcast disabled) gates
    the hint off."""
    edges = _values_edges(spark)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for conf in ["1t", "1p", "100k", "-1"]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
            got = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
            assert len(got) == 4
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _values_edges(spark):
    """EDGES as a VALUES relation: unlike ``createDataFrame`` over a
    Python list (a LogicalRDD, estimated at Long.MaxValue bytes), it
    carries a real size estimate, so pagerank's broadcast gate opens."""
    rows = ", ".join(f"('{s}', '{d}')" for s, d in EDGES)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(src, dst)")


def sql_plans(spark, run):
    """``run()``'s result and the final physical-plan descriptions of
    the SQL executions it started, read from the SQL status store (no
    extra job).  The store keeps only the newest
    ``spark.sql.ui.retainedExecutions`` entries, ordered by id, so new
    executions are found by id, not by position."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest(n):
        bus.waitUntilEmpty()
        count = store.executionsCount()
        execs = store.executionsList(int(max(count - n, 0)), int(n))
        return [execs.apply(i) for i in range(execs.size())]

    last = newest(1)
    first_new = last[0].executionId() + 1 if last else 0
    out = run()
    plans = [
        e.physicalPlanDescription()
        for e in newest(64)
        if e.executionId() >= first_new
    ]
    return out, plans


def test_pagerank_runs_no_job_before_first_iteration(spark, monkeypatch):
    """The broadcast gate reads plan statistics: no count() job runs
    at plan build, on a graph whose gate is open."""
    from pyspark.sql import DataFrame

    edges = _values_edges(spark)

    def _boom(self):
        raise AssertionError("count() job ran before iteration 1")

    monkeypatch.setattr(DataFrame, "count", _boom)
    got = {r.node: r.rank for r in pagerank(edges, iterations=1).collect()}
    assert len(got) == 4


def test_pagerank_broadcast_gate_follows_threshold(spark):
    """A small graph broadcasts its rank vector; a threshold below the
    plan estimate, or -1, leaves no broadcast in the plan (AQE cannot
    convert under that threshold either) and gives identical ranks."""
    edges = _values_edges(spark)
    ranks, plans = sql_plans(spark, lambda: pagerank(edges, iterations=3))
    assert len(plans) == 1 and "BroadcastHashJoin" in plans[0], plans
    want = {r.node: r.rank for r in ranks.collect()}
    for n, v in _expected(3).items():
        assert abs(want[n] - v) < 1e-9, (n, want[n], v)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for conf in ["10b", "-1"]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", conf)
            got, plans = sql_plans(spark, lambda: pagerank(edges, iterations=3))
            assert plans and not any("BroadcastHashJoin" in p for p in plans), conf
            assert {r.node: r.rank for r in got.collect()} == want, conf
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pagerank_leaves_only_its_checkpoint(spark):
    """Each call releases its loop invariants: the one new persistent
    RDD is the returned checkpoint."""
    jsc = spark.sparkContext._jsc
    edges = _values_edges(spark)
    for _ in range(2):
        before = set(jsc.getPersistentRDDs().keySet().toArray())
        ranks = pagerank(edges, iterations=2)
        after = set(jsc.getPersistentRDDs().keySet().toArray())
        assert after - before == {ranks._jdf.queryExecution().analyzed().rdd().id()}


# Spark jobs each graph builder launches before returning its plan, on
# the smoke tables: upper bounds pinned from measurement (pagerank ran
# 23 jobs, once 24; triangles 7), so a new eager job fails here.
_BUILDER_JOB_BUDGET = {"q_pagerank_parts": 24, "q_triangle_count": 7}


@pytest.mark.parametrize("name", sorted(_BUILDER_JOB_BUDGET))
def test_graph_builder_job_budget(spark, name):
    from clickbom_spark.queries import REGISTRY

    sc = spark.sparkContext
    group = f"builder-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        REGISTRY[name].fn(spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= _BUILDER_JOB_BUDGET[name], jobs


def test_triangle_count_matches_bruteforce(spark):
    """Degree-oriented count == brute-force enumeration on random
    graphs, robust to duplicate/reversed/self-loop input edges."""
    import itertools
    import random

    from clickbom_spark.ext.graph import triangle_count

    rng = random.Random(5)
    n = 40
    edges = set()
    for _ in range(160):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    truth = sum(
        1
        for x, y, z in itertools.combinations(sorted({e[0] for e in edges} | {e[1] for e in edges}), 3)
        if (x, y) in edges and (y, z) in edges and (x, z) in edges
    )
    # feed the operator a dirty edge list: duplicates, reversals, loops
    dirty = (
        [(u, v) for u, v in edges]
        + [(v, u) for u, v in list(edges)[::3]]
        + [(u, v) for u, v in list(edges)[::5]]
        + [(7, 7)]
    )
    df = spark.createDataFrame(dirty, "u int, v int")
    row = triangle_count(df).collect()[0]
    assert row["n_triangles"] == truth
    assert row["n_edges"] == len(edges)
    # assume_canonical on an already-canonical edge set (dedup'd,
    # loop-free, u < v) must produce the identical row while skipping
    # the canonicalization exchange
    clean = spark.createDataFrame(sorted(edges), "u int, v int")
    fast = triangle_count(clean, assume_canonical=True).collect()[0]
    assert fast == row


def test_copurchase_edges_mega_order_guard(spark):
    """The basket guard: an order with more distinct parts than the cap
    contributes NO pairs (bounding the O(items²) expansion), while
    normal baskets still form exact edges — and within-order duplicate
    partkeys don't double-count order support."""
    from clickbom_spark.queries.staged import copurchase_edges

    rows = []
    # two normal orders sharing the pair (1, 2) → a real edge
    for ok, parts in ((100, [1, 2, 3]), (101, [1, 2, 2])):
        rows += [(ok, p) for p in parts]
    # one mega-order containing EVERY part incl. (1,2): over the cap,
    # must be excluded entirely
    rows += [(999, p) for p in range(1, 30)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")

    edges = {(r["u"], r["v"]) for r in copurchase_edges(li, basket_cap=10).collect()}
    assert edges == {(1, 2)}
    # with the cap lifted, the mega-order's pairs push every part pair
    # it shares with another order to support >= 2
    edges_all = {
        (r["u"], r["v"]) for r in copurchase_edges(li, basket_cap=10_000).collect()
    }
    assert (1, 2) in edges_all and (1, 3) in edges_all and (2, 3) in edges_all


def test_label_propagation_string_node_ids(spark):
    """Review fix: the smallest-label tie-break must not negate the
    label column, so NON-numeric node ids work and ties still break
    toward the lexicographically smallest label."""
    from clickbom_spark.ext.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    )
    out = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=2).collect()
    }
    # round 1: a<-{b}->'b'? no: a's neighbors {b} -> 'b'; b's {a,c} ->
    # tie on count, smallest label 'a'; c's {b} -> 'b'
    # round 2: a's {b} -> 'a'; b's {a,c} -> both now ('b','b') -> 'b';
    # c's {b} -> 'a'
    assert out == {"a": "a", "b": "b", "c": "a"}
