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

Each round is two shuffles (groupBy min + join); ``localCheckpoint``
truncates lineage per round so plans stay flat. Convergence = edge-set
fixpoint, detected with a cheap order-insensitive digest
(count + sum of per-edge hashes) instead of a full set comparison.

Driver-barrier budget: exactly ONE job per round. The round's
``localCheckpoint`` is lazy (eager=False) and the digest aggregation is
the action that materializes it — checkpoint and convergence check share
a single job instead of running back-to-back (the serialized per-round
driver time is what caps N→4N scaling on small graphs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
    # NO distinct (r6): duplicate input edges are harmless — the star
    # operators are multiplicity-insensitive (window minima) and round 0's
    # small-star distinct dedups before the first digest — so deduping
    # here was a full-edge-set exchange spent only to shrink round 0's
    # input by the (typically tiny) duplicate factor.
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
    from pyspark.sql import Window

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
    from pyspark.sql import Window

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


def _digest(e: DataFrame) -> tuple[int, int, int, int, int]:
    """(edge count, hash sum 1, hash sum 2, non_star, max_out) in ONE job.

    The first three are the order-insensitive set digest (count + two
    modular hash sums; moduli keep the ANSI-mode sums far from long
    overflow at any scale). ``non_star`` counts nodes that appear both as
    a src and as a dst; ``max_out`` is the maximum src out-degree. Both
    star operators emit edges strictly big→small, so the edge set is a
    STAR FOREST iff non_star == 0 AND max_out <= 1 — non_star alone is
    NOT sufficient: a src linking to two distinct centers has disjoint
    src/dst sets but is not a star (e.g. the one-round image of the path
    (1,3),(3,4),(4,5),(2,5) is {(3,1),(4,1),(3,2),(5,2)}: non_star = 0
    yet node 3 links to centers 1 and 2, which must still merge). A star
    forest is a fixpoint of both operators (each member's only neighbor
    is its center, which is the component minimum, so large-star and
    small-star re-emit the same edges), so the combined condition ends
    the loop one full round earlier than waiting for two equal digests
    (the digest comparison stays as the conservative fallback)."""
    h = F.xxhash64("src", "dst")
    zero = F.lit(0).cast("long")
    u = e.select(
        F.col("src").alias("x"),
        F.lit(1).alias("es"),
        F.pmod(h, F.lit(1_000_003)).alias("p1"),
        F.pmod(h, F.lit(999_983)).alias("p2"),
    ).unionByName(
        e.select(
            F.col("dst").alias("x"), F.lit(0).alias("es"),
            zero.alias("p1"), zero.alias("p2"),
        )
    )
    per_node = u.groupBy("x").agg(
        F.sum("es").alias("n_src"),
        F.count("*").alias("n_all"),
        F.sum("p1").alias("s1"),
        F.sum("p2").alias("s2"),
    )
    row = per_node.agg(
        F.coalesce(F.sum("n_src"), F.lit(0)).alias("n"),
        F.coalesce(F.sum("s1"), F.lit(0)).alias("h1"),
        F.coalesce(F.sum("s2"), F.lit(0)).alias("h2"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("n_src") > 0) & (F.col("n_all") > F.col("n_src")), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("non_star"),
        F.coalesce(
            F.max(F.when(F.col("n_src") > 0, F.col("n_src"))), F.lit(0)
        ).alias("max_out"),
    ).collect()[0]
    return (
        int(row["n"]),
        int(row["h1"]),
        int(row["h2"]),
        int(row["non_star"]),
        int(row["max_out"]),
    )


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
    which label themselves.
    """
    # lazy checkpoint + digest-as-materializer: one job per round. No
    # pre-loop digest of the input — the first round's digest doubles as
    # the baseline (an already-converged input just takes its one
    # confirmation round, same as before; every other input saves a job)
    e = _normalize(edges, src, dst).localCheckpoint(eager=False)
    prev: tuple[int, int, int] | None = None
    star_exit = False
    for _round in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        n, h1, h2, non_star, max_out = _digest(e)
        if non_star == 0 and max_out <= 1:
            star_exit = True
            break
        if (n, h1, h2) == prev:
            break
        prev = (n, h1, h2)
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

    if star_exit:
        # e is a PROVEN star forest (non_star == 0 and max_out <= 1):
        # every member appears exactly once as src with its center as
        # dst, and centers/isolated nodes appear only as dst/never — so
        # the labels are the edges themselves, no symmetric re-expansion
        # + per-node min aggregation needed (two fewer exchanges in the
        # final job). Only used on the proven exit; the digest-equality
        # fallback keeps the generic reduction.
        members = e.select(F.col("src").alias(id_col), F.col("dst").alias("component"))
        if nodes is not None:
            all_nodes = nodes.select(_id_col(nodes, id_col, id_col)).distinct()
            return all_nodes.join(members, id_col, "left").select(
                id_col, F.coalesce("component", F.col(id_col)).alias("component")
            )
        centers = e.select(
            F.col("dst").alias(id_col), F.col("dst").alias("component")
        ).distinct()
        return members.unionByName(centers)
    labels = (
        _symmetric(e)
        .groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(
            F.col("src").alias(id_col),
            F.least("component", "src").alias("component"),
        )
    )
    if nodes is not None:
        all_nodes = nodes.select(_id_col(nodes, id_col, id_col)).distinct()
        labels = all_nodes.join(labels, id_col, "left").select(
            id_col, F.coalesce("component", F.col(id_col)).alias("component")
        )
    return labels
