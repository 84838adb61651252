"""The two formulations of ``connected_components``: the driver-side
numpy labeller for graphs of at most ``LOCAL_MAX_EDGES`` edges, and the
distributed label-propagation loop for larger ones.

Every tier-1 graph is below the bound, so the distributed loop is forced
here by setting the bound to 0. The labeller itself is a pure function of
two int64 arrays and is checked against a union-find oracle without
Spark, including ids next to ±2^63 (a float64 round trip would merge or
split them).
"""

import random
import time

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import LongType, StructField, StructType

from inform_spark.operators import components
from inform_spark.operators.components import connected_components, label_edges

I64_MIN, I64_MAX = -(2**63), 2**63 - 1


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _label_map(edges):
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    nodes, comp = label_edges(a, b)
    assert list(nodes) == sorted(set(nodes.tolist()))
    return dict(zip(nodes.tolist(), comp.tolist()))


ids = st.integers(I64_MIN, I64_MAX)


@st.composite
def random_graphs(draw):
    pool = draw(st.lists(ids, min_size=1, max_size=40, unique=True))
    node = st.sampled_from(pool)
    edges = draw(st.lists(st.tuples(node, node), min_size=1, max_size=80))
    if draw(st.booleans()):
        edges += [(b, a) for a, b in edges]  # reversed duplicates
    return edges


@st.composite
def chains(draw):
    n = draw(st.integers(2, 500))
    base = draw(st.sampled_from([I64_MIN, I64_MAX - n + 1, -n // 2, 0]))
    order = draw(st.permutations(range(n)))
    path = [base + i for i in order]
    return list(zip(path, path[1:]))


@st.composite
def stars(draw):
    center = draw(ids)
    leaves = draw(st.lists(ids, min_size=1, max_size=60))
    return [(leaf, center) if draw(st.booleans()) else (center, leaf)
            for leaf in leaves]


@settings(max_examples=200, deadline=None)
@given(st.one_of(random_graphs(), chains(), stars()))
def test_label_edges_matches_union_find(edges):
    assert _label_map(edges) == _union_find(edges)


def test_label_edges_extreme_ids_stay_apart():
    # adjacent int64 ids that share one float64 value must not merge
    edges = [(I64_MAX, I64_MAX - 1), (I64_MAX - 2, I64_MAX - 3), (I64_MIN, I64_MIN)]
    assert _label_map(edges) == {
        I64_MAX: I64_MAX - 1, I64_MAX - 1: I64_MAX - 1,
        I64_MAX - 2: I64_MAX - 3, I64_MAX - 3: I64_MAX - 3,
        I64_MIN: I64_MIN,
    }


def test_label_edges_shuffled_chain_at_the_bound_is_fast():
    # a chain whose ids are shuffled along the path and whose edges come in
    # random order: moving labels one node per edge needs ~the diameter in
    # rounds (seconds here); hooking whole trees needs O(log n)
    rng = np.random.default_rng(7)
    path = rng.permutation(components.LOCAL_MAX_EDGES + 1).astype(np.int64)
    order = rng.permutation(components.LOCAL_MAX_EDGES)
    t0 = time.perf_counter()
    nodes, comp = label_edges(path[:-1][order], path[1:][order])
    assert time.perf_counter() - t0 < 5
    assert len(nodes) == components.LOCAL_MAX_EDGES + 1 and not comp.any()


# -- Spark: the distributed loop, forced ------------------------------------

@pytest.fixture
def distributed(monkeypatch):
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)


def _cc(spark, edges, ddl="a long, b long", max_iter=25):
    df = spark.createDataFrame(edges, ddl)
    return connected_components(df, max_iter=max_iter)


def _cc_map(spark, edges, **kw):
    return {r["v"]: r["component"] for r in _cc(spark, edges, **kw).collect()}


def test_distributed_chain_star_pair(spark, distributed):
    edges = [(i, i + 1) for i in range(9)]
    edges += [(101, 100), (102, 100), (103, 100)]
    edges += [(200, 201)]
    got = _cc_map(spark, edges)
    assert got == _union_find(edges)
    assert got[9] == 0 and got[103] == 100 and got[201] == 200


def test_distributed_long_chain_pointer_jumping(spark, distributed):
    edges = [(i, i + 1) for i in range(63)]
    got = _cc_map(spark, edges, max_iter=12)
    assert set(got.values()) == {0} and len(got) == 64


def test_distributed_duplicate_and_reversed_edges(spark, distributed):
    got = _cc_map(spark, [(1, 2), (2, 1), (1, 2), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.fixture
def persisted(spark, monkeypatch):
    """Every DataFrame persisted while the test runs."""
    held = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    persist = cls.persist

    def tracking(self, *a, **kw):
        held.append(self)
        return persist(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", tracking)
    return held


def test_distributed_raises_when_not_converged(spark, distributed, persisted):
    edges = [(i, i + 1) for i in range(63)]
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        _cc(spark, edges, max_iter=2)
    assert persisted and not any(df.is_cached for df in persisted)


def test_distributed_releases_edges_when_a_round_raises(
    spark, distributed, persisted, monkeypatch
):
    # the loop's neighbor join is the first join the call makes
    def boom(*a, **kw):
        raise RuntimeError("round failed")

    df = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    monkeypatch.setattr(type(df), "join", boom)
    with pytest.raises(RuntimeError, match="round failed"):
        connected_components(df)
    assert persisted and not any(df.is_cached for df in persisted)


# -- Spark: both formulations agree ------------------------------------------

def _random_edges(seed):
    rng = random.Random(seed)
    n = rng.randint(30, 60)
    pool = rng.sample(range(-10**12, 10**12), n)
    return [(rng.choice(pool), rng.choice(pool)) for _ in range(n)]


GRAPHS = [(f"random-{s}", _random_edges(s), "a long, b long") for s in range(5)]
GRAPHS[0] = ("random-0-int", [(a % 10**6, b % 10**6) for a, b in GRAPHS[0][1]],
             "a int, b int")
GRAPHS[1] = ("random-1-not-null", GRAPHS[1][1], "a long not null, b long not null")
GRAPHS.append(("chain-200", [(i + 1, i) for i in range(199)], "a long, b long"))


@pytest.mark.parametrize("name,edges,ddl", GRAPHS, ids=[g[0] for g in GRAPHS])
def test_formulations_agree(spark, monkeypatch, name, edges, ddl):
    small = _cc(spark, edges, ddl)
    assert "LocalTableScan" in small._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(components, "LOCAL_MAX_EDGES", 0)
    dist = _cc(spark, edges, ddl)
    assert small.schema == dist.schema
    assert sorted(small.collect()) == sorted(dist.collect())
    assert {r["v"]: r["component"] for r in small.collect()} == _union_find(edges)


def test_empty_edges_give_empty_result_with_schema(spark):
    got = _cc(spark, [])
    assert got.schema == StructType([
        StructField("v", LongType()), StructField("component", LongType()),
    ])
    assert got.collect() == []


def test_null_id_falls_back_to_distributed(spark):
    # an edge with a null end contributes its non-null end as a node; the
    # small path cannot carry a null through int64, so it must not run
    edges = [(1, None), (2, 3), (3, 1), (4, None)]
    got = _cc_map(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}
