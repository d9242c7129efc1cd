"""Connected components vs a Python union-find oracle."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from outcite_duplicate_detecting_spark.operators import components
from outcite_duplicate_detecting_spark.operators.components import connected_components


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def oracle_labels(edges, nodes):
    uf = UnionFind()
    for n in nodes:
        uf.find(n)
    for a, b in edges:
        uf.union(a, b)
    # label every node with min of its component
    comp = {}
    for n in nodes:
        comp.setdefault(uf.find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 30, 20), (1, 200, 150), (2, 500, 900)])
def test_cc_matches_union_find(spark, seed, n_nodes, n_edges):
    rng = np.random.RandomState(seed)
    edges = [
        (int(a), int(b))
        for a, b in rng.randint(0, n_nodes, size=(n_edges, 2))
    ]
    nodes = list(range(n_nodes))
    want = oracle_labels(edges, nodes)

    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(n,) for n in nodes], "id long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(edf, nodes=ndf).collect()
    }
    assert got == want


def test_cc_long_chain(spark):
    # worst case for label propagation; log-round algorithms handle it fast
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = connected_components(edf).collect()
    assert {r["component"] for r in got} == {0}
    assert {r["id"] for r in got} == set(range(n))


def test_cc_star_skew(spark):
    # one hot node connected to everything
    edges = [(0, i) for i in range(1, 300)] + [(500, 501)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert all(got[i] == 0 for i in range(1, 300))
    assert got[501] == 500


def test_cc_star_forest_exits_in_one_round(spark, monkeypatch):
    """The star-forest exit (components._digest non_star, max_out): an
    input that is already a star forest must converge after a SINGLE
    round, with no confirmation round. Each round runs one digest, so the
    digest calls are the round count."""
    digests = []

    def counting_digest(e):
        digests.append(real_digest(e))
        return digests[-1]

    real_digest = components._digest
    monkeypatch.setattr(components, "_digest", counting_digest)
    edges = [(1, 0), (2, 0), (3, 0), (10, 9), (11, 9)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 9: 9, 10: 9, 11: 9}
    assert len(digests) == 1, digests
    _n, non_star, _max_out = digests[0]
    assert non_star == 0


def test_cc_path_graph_no_premature_star_exit(spark):
    """Regression (r5 advisory, high): on the path 1-3-4-5-2 the one-round
    image {(3,1),(4,1),(3,2),(5,2)} has disjoint src/dst sets (non_star=0)
    but node 3 links to two centers — exiting there splits one true
    component into {1,3,4} and {2,5}. The exit must also require max src
    out-degree <= 1."""
    edges = [(1, 3), (3, 4), (4, 5), (2, 5)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_cc_two_center_fuzz_vs_union_find(spark):
    """Denser fuzz specifically shaped to produce multi-center one-round
    images (many small chains sharing tails)."""
    rng = np.random.RandomState(7)
    edges = []
    for base in range(0, 120, 6):
        chain = [base + k for k in range(6)]
        rng.shuffle(chain)
        edges += list(zip(chain, chain[1:]))
        # cross-link every other block to its neighbor's tail
        if base >= 6 and (base // 6) % 2 == 0:
            edges.append((base + 5, base - 1))
    nodes = sorted({x for e in edges for x in e})
    want = oracle_labels(edges, nodes)
    edf = spark.createDataFrame([(int(a), int(b)) for a, b in edges], "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert got == want


@pytest.mark.parametrize("n", [4, 5])
def test_cc_every_small_graph_vs_union_find(spark, n):
    """Every big→small oriented edge set on n nodes (2^C(n,2) graphs: 64
    for n=4, 1024 for n=5), each relabelled onto its own id range, in ONE
    call with ``nodes`` so isolated nodes are labelled too. The star-forest
    test is the loop's only exit, so every graph must reach it with
    union-find labels."""
    pairs = [(b, a) for a, b in itertools.combinations(range(n), 2)]
    edges, nodes = [], []
    for mask in range(2 ** len(pairs)):
        base = mask * n
        nodes += [base + i for i in range(n)]
        edges += [(base + b, base + a) for k, (b, a) in enumerate(pairs) if mask >> k & 1]
    want = oracle_labels(edges, nodes)
    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = spark.createDataFrame([(x,) for x in nodes], "id long")
    got = {r["id"]: r["component"] for r in connected_components(edf, nodes=ndf).collect()}
    assert got == want


def test_cc_max_iter_raises(spark):
    """The round budget is the safety net: a 64-node chain is no star
    forest after one round, so max_iter=1 must raise, not return labels."""
    edf = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edf, max_iter=1)
