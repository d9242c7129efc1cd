"""Connected components via iterative large-star / small-star DataFrame joins.

Replaces every scipy ``connected_components`` call site in the reference
(six of them — SURVEY.md §2.9: gold links code/B3_add_goldID.py:60,
similarity graph code/common.py:367, classifier graph
code/3_update_duplicateIDs.py:99, min-el graph
code/blocking/code/find_components_disk.py:273, simhash graph
code/blocking/code/simhash_components_disk_v3.py:332, gold CC
code/blocking/code/core_goldstandard.py:99). The reference materializes a
boolean adjacency matrix in driver memory; that caps it at one machine.
Here the graph stays a distributed edge DataFrame and converges in
O(log n) rounds of the Kiveris et al. (SoCC'14) alternating star
operations:

- large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
- small-star: every neighbor v ≤ u (edges oriented big→small) links to m(u)

Convergence (Kiveris et al., "Connected Components in MapReduce and
Beyond"): both operators preserve connectivity and the node set, and the
alternation reaches a fixpoint in O(log² n) rounds. That fixpoint is
exactly a min-centred star forest (every other node has one edge, to its
component's minimum); any other graph is changed by some operator. So the
loop has one exit: the round's output is a star forest, i.e. no node is
both a src and a dst and no src has two dsts. Edges run strictly
big→small, so each centre is its component's minimum and the edges are
the labels. ``max_iter`` only guards against a broken invariant.

Degree contract: a node's whole neighbourhood is one large-star window
partition, so one task buffers a node's full degree; hot nodes are not
split. Inside the pipeline degree is bounded by the detectors' caps:
every edge is a verified pair that shared a bucket of at most
``max_bucket_size`` (``max_fingerprint_df``) members, so a node's degree
is at most its bucket count times the cap.

Driver-barrier budget: exactly ONE job per round. The round's
``localCheckpoint`` (which keeps plans flat) is lazy and the digest
aggregation is the action that materializes it, so checkpoint and
convergence test share one job (serialized per-round driver time is what
caps N→4N scaling on small graphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}


def _id_col(df: DataFrame, name: str, alias: str):
    """Id columns stay whatever orderable type the caller uses (long ids,
    128-bit binary ids, strings); integral types are widened to long
    so mixed int/long callers keep the legacy behavior."""
    c = F.col(name)
    if dict(df.dtypes).get(name) in _INTEGRAL:
        c = c.cast("long")
    return c.alias(alias)


def _normalize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # no distinct: the star operators are multiplicity-insensitive (window
    # minima) and round 0's small-star distinct dedups before the digest
    e = edges.select(_id_col(edges, src, "src"), _id_col(edges, dst, "dst"))
    return e.where(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )


def _symmetric(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(e: DataFrame) -> DataFrame:
    # m(u) = min(N(u) ∪ {u}) via a window min over the symmetric neighbor
    # list — ONE exchange (partition by src) where the former
    # groupBy+join-back needed two passes over the edge set per star
    # (the join re-exchanged the neighbor table even though the
    # aggregate's partitioning was reusable).
    # NOTE: emits a MULTISET (no trailing distinct). The consumer
    # (_small_star) canonicalizes + dedups as its first step on the same
    # (big, small) orientation this operator already guarantees (m < dst
    # by construction), so a distinct here was a second exchange over the
    # identical key — dropped (one fewer shuffle per CC round).
    w = Window.partitionBy("src")
    return (
        _symmetric(e)
        .withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient big -> small; every small neighbor (and the center) links to
    # min. The center link rides the same window output (explode of the
    # two directed edges), so the whole operator is distinct → window →
    # explode → distinct instead of distinct → groupBy → join → union →
    # distinct.
    ed = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    w = Window.partitionBy("src")
    linked = (
        ed.withColumn("m", F.min("dst").over(w))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("dst").alias("src"), F.col("m").alias("dst")),
                    F.struct(F.col("src").alias("src"), F.col("m").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )
    return linked.where(F.col("src") != F.col("dst")).distinct()


def _digest(e: DataFrame) -> tuple[int, int, int]:
    """(edge count, non_star, max_out) in ONE job.

    ``non_star`` counts nodes that appear both as a src and as a dst;
    ``max_out`` is the maximum src out-degree. Both star operators emit
    edges strictly big→small, so the edge set is a STAR FOREST iff
    non_star == 0 AND max_out <= 1 — non_star alone is NOT sufficient: a
    src linking to two distinct centers has disjoint src/dst sets but is
    not a star (e.g. the one-round image of the path
    (1,3),(3,4),(4,5),(2,5) is {(3,1),(4,1),(3,2),(5,2)}: non_star = 0
    yet node 3 links to centers 1 and 2, which must still merge)."""
    u = e.select(F.col("src").alias("x"), F.lit(1).alias("es")).unionByName(
        e.select(F.col("dst").alias("x"), F.lit(0).alias("es"))
    )
    per_node = u.groupBy("x").agg(
        F.sum("es").alias("n_src"), F.count("*").alias("n_all")
    )
    row = per_node.agg(
        F.coalesce(F.sum("n_src"), F.lit(0)).alias("n"),
        F.count_if((F.col("n_src") > 0) & (F.col("n_all") > F.col("n_src"))).alias("non_star"),
        F.coalesce(F.max("n_src"), F.lit(0)).alias("max_out"),
    ).collect()[0]
    return int(row["n"]), int(row["non_star"]), int(row["max_out"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) — component = minimum node id of the component.

    ``nodes`` (optional, one column ``id_col``) adds isolated vertices,
    which label themselves; without it the nodes are the endpoints of the
    input edges (self-loops dropped).
    """
    # lazy checkpoint + digest-as-materializer: one job per round. No
    # pre-loop digest of the input: an input that is already a star
    # forest takes its one round and exits on that round's test
    inp = _normalize(edges, src, dst).localCheckpoint(eager=False)
    e = inp
    for _round in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        n, non_star, max_out = _digest(e)
        # the only exit: a proven min-centred star forest, the fixpoint of
        # the alternation (Kiveris et al.; module docstring)
        if non_star == 0 and max_out <= 1:
            break
        # late rounds are shuffle-LATENCY-bound, not data-bound: once the
        # edge set is tiny, re-reading its checkpoint blocks with the full
        # partition fan-out just serializes task-launch overhead across
        # every stage of the next round. Narrow-coalesce the materialized
        # checkpoint (no shuffle); the round's own shuffles stay governed
        # by AQE, which coalesces them by size.
        if n < 1_000_000 and e.rdd.getNumPartitions() > 8:
            e = e.coalesce(8)
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # every member appears exactly once as src with its center (the
    # component minimum) as dst; centers and isolated nodes label
    # themselves through the coalesce
    members = e.select(F.col("src").alias(id_col), F.col("dst").alias("component"))
    if nodes is None:
        all_nodes = inp.select(F.col("src").alias(id_col)).unionByName(
            inp.select(F.col("dst").alias(id_col))
        )
    else:
        all_nodes = nodes.select(_id_col(nodes, id_col, id_col))
    return all_nodes.distinct().join(members, id_col, "left").select(
        id_col, F.coalesce("component", F.col(id_col)).alias("component")
    )
