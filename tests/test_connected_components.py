"""connected_components against a Python union-find on seeded random
graphs, plus the ``max_iter`` convergence boundary: the seed groupBy is
propagation round 1, so a component whose minimum is D hops from its
farthest member converges with ``max_iter=D`` and raises below it."""

import random

import pytest

from warc2text_spark.operators.dedup import connected_components


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


def _random_graph(seed):
    """Chains, stars, cliques and disjoint pairs over shuffled string ids
    of mixed width, so string order differs from numeric order and the
    component minimum sits anywhere in the shape."""
    rnd = random.Random(seed)
    ids = [f"d{i}" for i in range(400)]
    rnd.shuffle(ids)
    it = iter(ids)
    edges = []
    for _ in range(6):                       # chains
        nodes = [next(it) for _ in range(rnd.randint(2, 7))]
        edges += list(zip(nodes, nodes[1:]))
    for _ in range(5):                       # stars
        hub, *leaves = [next(it) for _ in range(rnd.randint(3, 9))]
        edges += [(hub, leaf) for leaf in leaves]
    for _ in range(4):                       # cliques
        nodes = [next(it) for _ in range(rnd.randint(3, 6))]
        edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    for _ in range(8):                       # disjoint pairs
        edges.append((next(it), next(it)))
    # pair lists arrive as a<b with duplicates; orient and repeat some
    edges = [tuple(sorted(e)) for e in edges]
    return edges + rnd.sample(edges, 5)


@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_components_match_union_find(spark, seed):
    edges = _random_graph(seed)
    pairs = spark.createDataFrame(edges, "a_id string, b_id string")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


def _path(spark, n):
    ids = [f"v{i}" for i in range(1, n + 1)]
    return spark.createDataFrame(list(zip(ids, ids[1:])),
                                 "a_id string, b_id string")


def test_max_iter_boundary_on_path(spark):
    """v1-v2-v3-v4: the seed labels (v1, v1, v2, v3); rounds 1 and 2
    settle v3 and v4; round 3 confirms.  The self-label seed of the
    previous implementation needed max_iter=4 here."""
    got = {r.doc_id: r.cluster_id
           for r in connected_components(_path(spark, 4), max_iter=3)
           .collect()}
    assert got == {"v1": "v1", "v2": "v1", "v3": "v1", "v4": "v1"}
    with pytest.raises(RuntimeError, match="did not converge within 2"):
        connected_components(_path(spark, 4), max_iter=2)


def test_star_around_its_minimum_settles_in_the_seed(spark):
    """A star whose hub is the minimum is settled by the seed alone; one
    confirming round suffices."""
    pairs = spark.createDataFrame([("a", x) for x in "bcdef"],
                                  "a_id string, b_id string")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs, max_iter=1).collect()}
    assert got == {x: "a" for x in "abcdef"}


def test_max_iter_must_be_positive(spark):
    with pytest.raises(ValueError):
        connected_components(_path(spark, 2), max_iter=0)
