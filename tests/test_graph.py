"""operators/graph.py — hash-ordered min-contraction connected
components: union-find property tests and the chain worst case."""

import random
import re

import pytest

from global_superstore_data_warehouse_spark.operators.graph import (
    connected_components,
)


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_cc_matches_union_find_on_random_graphs(spark):
    rng = random.Random(20260814)
    for _ in range(6):
        n = rng.randint(4, 80)
        m = rng.randint(1, 120)
        edges = [(rng.randint(0, n), rng.randint(0, n)) for _ in range(m)]
        # a node whose only edge is a self-loop is its own component
        edges.append((n + 1, n + 1))
        nodes = sorted({x for e in edges for x in e})
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == _uf_components(edges, nodes)


@pytest.mark.parametrize("order", ["ascending", "descending", "shuffled"])
def test_cc_chain_worst_case_diameter(spark, order):
    """A 201-node path: diameter-bound algorithms need ~200 rounds,
    and so does min-contraction over RAW ids when consecutive ids sit
    next to each other (one node per level). The hashed order must
    converge in a few levels whatever way the ids run along the path;
    the job bound turns a regression to raw-id order (several jobs
    per level, one level per node) into a failure instead of a slow
    pass."""
    ids = list(range(201))
    if order == "descending":
        ids.reverse()
    elif order == "shuffled":
        random.Random(7).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    df = spark.createDataFrame(edges, "src: long, dst: long")
    sc = spark.sparkContext
    group = f"cc-chain-{order}"
    sc.setJobGroup(group, "connected_components chain")
    try:
        out = connected_components(df)
        got = {r["node"]: r["component"] for r in out.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(got) == 201
    assert set(got.values()) == {0}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) < 150
    # each level's checkpoint must not carry the size estimate forward:
    # a join's estimate is the product of its inputs', so a carried one
    # gains digits geometrically with the level count (past a long's
    # range Spark prints it as "9.22E+187 B")
    est = out._jdf.queryExecution().optimizedPlan().stats().simpleString()
    digits = re.search(r"E\+(\d+) B", est)
    assert digits is None or int(digits.group(1)) < 1000, est


def test_cc_no_python_workers(spark):
    """The iteration is pure JVM: no Arrow/Python eval nodes."""
    edges = [(i % 7, (i * 3) % 11) for i in range(40)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    out = connected_components(df)
    plan = out._jdf.queryExecution().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
