"""Connected components (large-star/small-star) vs a union-find twin.

The property test drives random graphs through the DataFrame
implementation and checks the component partition is EXACTLY what
sequential union-find produces — the standard way to validate a
distributed CC formulation.  The chain test is the adversarial case
for naive min-label propagation (O(diameter) rounds); large-star/
small-star must converge on it well inside the round cap.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tegenaria_spark.operators.cluster import canonical_assignments, connected_components


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id per component
    comp: dict[int, int] = {}
    mins: dict[int, int] = {}
    for x in range(n_nodes):
        r = find(x)
        mins[r] = min(mins.get(r, x), x)
    for x in range(n_nodes):
        comp[x] = mins[find(x)]
    return comp


def _spark_components(spark, n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    ids = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [(None, None)], "doc_a long, doc_b long"
    ).dropna()
    out = canonical_assignments(ids, pairs).collect()
    assert len(out) == n_nodes
    return {r.doc_id: r.component for r in out}


@settings(max_examples=7, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=1, max_value=40).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=n - 1),
                    st.integers(min_value=0, max_value=n - 1),
                ),
                max_size=60,
            ),
        )
    )
)
def test_cc_matches_union_find(spark, case):
    n, edges = case
    assert _spark_components(spark, n, edges) == _union_find_components(n, edges)


def test_cc_long_chain_converges(spark):
    # 64-node path graph: diameter 63.  The default path answers it with
    # the driver union-find; driver_max_edges=0 forces the distributed
    # large-star/small-star loop (edge sets above the driver cap), where
    # min-label propagation would need ~63 rounds — it must finish in <= 30.
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    comp = _spark_components(spark, n, edges)
    assert set(comp.values()) == {0}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    loop = connected_components(pairs, "doc_a", "doc_b", max_iter=30, driver_max_edges=0)
    assert {r.node: r.component for r in loop.collect()} == comp


def test_cc_empty_and_self_loops(spark):
    comp = _spark_components(spark, 5, [(2, 2), (3, 3)])
    assert comp == {i: i for i in range(5)}
    pairs = spark.createDataFrame([(2, 2), (3, 3)], "doc_a long, doc_b long")
    for driver_max_edges in (1_000_000, 0):  # default path, forced loop
        assert connected_components(pairs, "doc_a", "doc_b", driver_max_edges=driver_max_edges).isEmpty()


def test_cc_string_nodes(spark):
    pairs = spark.createDataFrame(
        [("img-b", "img-a"), ("img-c", "img-b"), ("img-x", "img-y")],
        "doc_a string, doc_b string",
    )
    for driver_max_edges in (1_000_000, 0):  # default path, forced loop
        cc = connected_components(pairs, "doc_a", "doc_b", driver_max_edges=driver_max_edges)
        assert {r.node: r.component for r in cc.collect()} == {
            "img-a": "img-a", "img-b": "img-a", "img-c": "img-a",
            "img-x": "img-x", "img-y": "img-x",
        }


def test_cc_v_shape_needs_small_star(spark):
    # Two ends joined through a middle node that is the LARGEST id:
    # canonical edges {(9, 2), (9, 5)} are a large-star fixed point (no
    # node has a larger neighbour to re-point), so a loop without
    # small-star would stop with node 9 in two components.  A second such
    # V and a plain edge ride along, ids shuffled.
    edges = [(5, 9), (4, 8), (9, 2), (3, 0), (8, 1)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    loop = connected_components(pairs, "doc_a", "doc_b", driver_max_edges=0)
    assert sorted((r.node, r.component) for r in loop.collect()) == [
        (0, 0), (1, 1), (2, 2), (3, 0), (4, 1), (5, 2), (8, 1), (9, 2),
    ]
