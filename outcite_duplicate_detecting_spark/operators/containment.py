"""Set-containment (poset) join and minimal-element reduction.

The reference's poset blocking method (/root/reference/code/blocking/code/
find_components_disk.py): a representation A is *under* B when A's feature
set is a subset of B's (find_subsup :94-113, rarest-first posting-list
intersection). Its outputs: (subset, superset) edges, the minimal elements
(subsets that are nobody's strict superset — update_results :162-174,
get_min_el_map :186-202), and connected components over the bipartite
minel↔superset graph.

Spark mapping (SURVEY.md §2.3): explode features to a postings table and
count matching features per candidate pair — A ⊆ B iff
|features(A) ∩ features(B)| = |features(A)|. The reference's optimizations
map to relational form:
- rarest-first intersection → the join naturally intersects through the
  postings index; selectivity ordering is the optimizer's job,
- size-stratified task grid (:125-135, 176-184) → the pruning predicate
  size(A) ≤ size(B) (strict subsets: <, plus id tie-break on equal sets).

``containment_pairs`` has no frequency cap and no drop accounting: the
rarest-first probe keeps ubiquitous features off the sub side, but no
superset-side posting is ever dropped, so a feature carried by k docs
still joins each sub that probes it against all k. (The only cap in this
module is ``lattice_pair_recall_with_drops``'s superset fan-in cap.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import spread_small_input


def containment_pairs(
    df: DataFrame,
    id_col: str = "id",
    features_col: str = "features",
    strict: bool = True,
) -> DataFrame:
    """(sub_id, sup_id): feature set of sub ⊆ feature set of sup.

    ``strict``: equal sets are reported once with sub_id < sup_id and
    proper subsets always as (smaller-set id, larger-set id); a row never
    pairs with itself.

    Candidate generation is RAREST-FIRST (r6 — the reference's own
    find_subsup ordering, find_components_disk.py:94-113, now load-bearing
    instead of left to the optimizer): A ⊆ B implies A's rarest feature is
    in B, so the sub side posts exactly ONE row per doc — its globally
    rarest feature — against the full postings index. The former
    share-any-feature self-join made every stop-word bucket quadratic
    (a feature carried by k docs emitted k² join rows whether or not any
    containment existed); the rarest probe emits Σ_doc df(rarest(doc))
    rows, which Zipfian feature distributions keep near-linear.
    Verification is exact: |fs(A) ∩ fs(B)| = |A| via array_intersect in
    whole-stage codegen on the candidate pairs only, so candidate
    generation affects cost, never the result. Empty feature sets emit no
    postings and hence no pairs — identical to the former join's
    behavior.
    """
    sized = (
        spread_small_input(
            df.select(
                F.col(id_col).alias("id"),
                F.array_distinct(F.col(features_col)).alias("fs"),
            ),
            key="id",
        )
        .withColumn("sz", F.size("fs"))
        # feeds the postings index, the rarest-probe derivation, and both
        # verify sides — materialize once (arrays are words, ~KB/doc)
        .localCheckpoint(eager=True)
    )
    ex = sized.select("id", "sz", F.explode("fs").alias("feat"))
    freq = ex.groupBy("feat").agg(F.count("*").alias("df"))
    rarest = (
        ex.join(freq, "feat")
        .groupBy("id")
        .agg(
            F.min("sz").alias("sub_sz"),  # sz is constant per id
            F.min(F.struct("df", "feat")).alias("_r"),
        )
        .select(F.col("id").alias("sub_id"), "sub_sz", F.col("_r.feat").alias("feat"))
    )
    cands = rarest.join(
        ex.select(
            F.col("feat"), F.col("id").alias("sup_id"), F.col("sz").alias("sup_sz")
        ),
        "feat",
    ).where(
        # size-stratified pruning predicate (reference task grid analogue)
        (F.col("sub_id") != F.col("sup_id"))
        & (
            (F.col("sub_sz") < F.col("sup_sz"))
            | ((F.col("sub_sz") == F.col("sup_sz")) & (F.col("sub_id") < F.col("sup_id")))
        )
    ).select("sub_id", "sup_id")
    s1 = sized.select(F.col("id").alias("sub_id"), F.col("fs").alias("_fs1"), F.col("sz").alias("_sz1"))
    s2 = sized.select(F.col("id").alias("sup_id"), F.col("fs").alias("_fs2"))
    out = (
        cands.join(s1, "sub_id")
        .join(s2, "sup_id")
        .where(F.size(F.array_intersect("_fs1", "_fs2")) == F.col("_sz1"))
        .select("sub_id", "sup_id")
    )
    return out


def minimal_elements(pairs: DataFrame) -> DataFrame:
    """Minimal elements of the containment order: ids that appear as a
    subset but never as a strict superset of some other subset — the
    reference's min-el set (find_components_disk.py:162-174)."""
    subs = pairs.select(F.col("sub_id").alias("id")).distinct()
    sups = pairs.select(F.col("sup_id").alias("id")).distinct()
    return subs.join(sups, "id", "left_anti")


def minel_superset_edges(pairs: DataFrame) -> DataFrame:
    """(src, dst) edges minimal-element → superset, the graph whose
    connected components the reference labels (':270-276')."""
    minels = minimal_elements(pairs)
    return (
        pairs.join(minels.withColumnRenamed("id", "sub_id"), "sub_id")
        .select(F.col("sub_id").alias("src"), F.col("sup_id").alias("dst"))
    )


def single_feature_labels(
    df: DataFrame, id_col: str = "id", features_col: str = "features"
) -> DataFrame:
    """Single-feature blocking (the reference's alternative separation
    method, /root/reference/code/blocking/code/pipeline/5a_singlesep.sh:7-14):
    every shared feature links its carriers; labels = connected components
    of the id↔feature bipartite graph. Features are hashed into the id
    space with a namespace prefix; output (id, label) with label = the
    component's minimum id-node hash — deterministic across partitionings."""
    from .components import connected_components

    ids = df.select(F.col(id_col).cast("long").alias("id")).distinct()
    edges = df.select(
        F.col(id_col).cast("long").alias("src"),
        F.explode(F.array_distinct(F.col(features_col))).alias("feat"),
    ).select("src", F.xxhash64(F.concat(F.lit("feat:"), F.col("feat"))).alias("dst"))
    labels = connected_components(edges, src="src", dst="dst", nodes=ids)
    return labels.select(F.col("id").alias(id_col), F.col("component").alias("label"))


def minel_fanin_stats(minel_edges: DataFrame) -> DataFrame:
    """The reference's min-el fan-in diagnostics
    (/root/reference/code/blocking/code/find_components_disk.py:224-250).

    Input: (src, dst) = minel → superset edges. Per superset,
    fan_in = number of minels pointing at it (``num_minels``). Per minel:
    - num_any    = # of its supersets with fan_in > 0 (all of them),
    - num_multi  = # with fan_in > 1 (reached by another minel too),
    - num_single = # with fan_in == 1 (exclusively its own),
    - prob_multi_ppm = num_multi / num_any in integer ppm.

    Pure groupBy + join-back aggregation — the Counter loops of the
    reference collapse into two shuffles."""
    fanin = minel_edges.groupBy("dst").agg(F.count("*").alias("fan_in"))
    joined = minel_edges.join(fanin, "dst")
    per_minel = joined.groupBy("src").agg(
        F.count("*").alias("num_any"),
        F.sum(F.when(F.col("fan_in") > 1, 1).otherwise(0)).alias("num_multi"),
        F.sum(F.when(F.col("fan_in") == 1, 1).otherwise(0)).alias("num_single"),
    )
    return per_minel.select(
        F.col("src").alias("minel_id"),
        F.col("num_any").cast("long").alias("num_any"),
        F.col("num_multi").cast("long").alias("num_multi"),
        F.col("num_single").cast("long").alias("num_single"),
        F.when(
            F.col("num_any") > 0,
            (F.col("num_multi") * 1_000_000).cast("long") / F.col("num_any"),
        )
        .otherwise(0)
        .cast("long")
        .alias("prob_multi_ppm"),
    )


def lattice_pair_recall(
    minel_edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    gold_col: str = "gold",
    freq_col: str | None = None,
    max_fanin: int | None = 25000,
) -> DataFrame:
    """Micro/macro reachability recall over the min-el lattice (one row);
    see ``lattice_pair_recall_with_drops`` for the fan-in guard."""
    out, _drops = lattice_pair_recall_with_drops(
        minel_edges, nodes, id_col=id_col, gold_col=gold_col,
        freq_col=freq_col, max_fanin=max_fanin,
    )
    return out


def lattice_pair_recall_with_drops(
    minel_edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    gold_col: str = "gold",
    freq_col: str | None = None,
    max_fanin: int | None = 25000,
) -> tuple[DataFrame, DataFrame]:
    """Micro/macro reachability recall over the min-el lattice
    (/root/reference/code/blocking/code/evaluate_minels_v3.py:158-200).

    Two minels are *reached* when they share a superset (the reference's
    sub2sup.T·sub2sup product). Per gold group g with member minels m_i of
    frequency f_i:  TP_g = Σ_{(i,j) reached} f_i·f_j  (self-pairs count —
    every minel shares a superset with itself through its own closure),
    T_g = (Σ f_i)², recall_g = TP_g/T_g. Output one row:
    (tp, t, micro_recall_ppm, macro_recall_ppm, n_groups).

    Relational form: reached pairs = self-join of (minel, superset) edges
    (plus the reflexive pair) on the superset, then one groupBy(gold).

    ``max_fanin``: a superset with fan-in f emits f² reached pairs in the
    self-join, so a single hot superset goes quadratic at scale. Supersets
    over the cap (reference 25000-group guard, code/common.py:96) are
    excluded from pair generation and accounted for in the returned drops
    DataFrame (dst, fan_in) — never silently. The guard is conservative:
    reflexive pairs survive (they ride on the per-minel self edge), so
    recall is under-, never over-stated; with no superset over the cap the
    output is exactly the uncapped result.
    """
    freq = F.col(freq_col) if freq_col else F.lit(1)
    base = nodes.select(
        F.col(id_col).alias("id"),
        F.col(gold_col).alias("gold"),
        freq.cast("long").alias("freq"),
    )
    # reflexive closure: every minel reaches itself
    edges = minel_edges.select("src", "dst").unionByName(
        base.select(F.col("id").alias("src"), F.col("id").alias("dst"))
    ).distinct()
    if max_fanin is not None:
        fanin = edges.groupBy("dst").agg(F.count("*").alias("fan_in"))
        drops = fanin.where(F.col("fan_in") > max_fanin)
        # hot supersets are a handful of stop-feature sets → broadcastable
        edges = edges.join(F.broadcast(drops.select("dst")), "dst", "left_anti")
    else:
        drops = (
            edges.select("dst").limit(0).withColumn("fan_in", F.lit(0).cast("long"))
        )
    a = edges.select(F.col("src").alias("m1"), "dst")
    b = edges.select(F.col("src").alias("m2"), "dst")
    reached = a.join(b, "dst").select("m1", "m2").distinct()
    paired = (
        reached.join(base.select(F.col("id").alias("m1"), F.col("gold"), F.col("freq").alias("f1")), "m1")
        .join(
            base.select(
                F.col("id").alias("m2"),
                F.col("gold").alias("gold2"),
                F.col("freq").alias("f2"),
            ),
            "m2",
        )
        .where(F.col("gold") == F.col("gold2"))
    )
    tp_per_gold = paired.groupBy("gold").agg(
        F.sum(F.col("f1") * F.col("f2")).alias("tp")
    )
    t_per_gold = base.groupBy("gold").agg(
        (F.sum("freq") * F.sum("freq")).alias("t")
    )
    per_gold = t_per_gold.join(tp_per_gold, "gold", "left").select(
        "gold",
        F.coalesce("tp", F.lit(0)).alias("tp"),
        "t",
        # per-group recall in integer ppm (floor) so micro/macro are exact
        # integer arithmetic on both engines — no float wobble
        F.when(
            F.col("t") > 0,
            F.floor(F.coalesce("tp", F.lit(0)) * 1_000_000 / F.col("t")),
        )
        .otherwise(0)
        .cast("long")
        .alias("recall_ppm"),
    )
    out = per_gold.agg(
        F.sum("tp").cast("long").alias("tp"),
        F.sum("t").cast("long").alias("t"),
        F.when(F.sum("t") > 0, F.floor(F.sum("tp") * 1_000_000 / F.sum("t")))
        .otherwise(0)
        .cast("long")
        .alias("micro_recall_ppm"),
        F.floor(F.sum("recall_ppm") / F.count("*"))
        .cast("long")
        .alias("macro_recall_ppm"),
        F.count("*").cast("long").alias("n_groups"),
    )
    return out, drops
