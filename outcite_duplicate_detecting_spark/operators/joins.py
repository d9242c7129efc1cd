"""The grouped pair generator behind every candidate join.

The LSH band equi-join (SURVEY.md §2.3; reference analogue: the lexsort
adjacency scan in /root/reference/code/blocking/code/
simhash_components_disk_v3.py:258-275) groups a postings DataFrame
``(id, key...)`` into per-key member lists in ONE shuffle — bucket
size, the cap filter, and pair generation all derive from that single
aggregation. MinHash bands, SimHash blocks (with the signature as member
payload), the substring min-fingerprint probe and exact Jaccard (with the
set size as payload) all call ``grouped_pairs``.

Skew handling is the cap plus bounded row memory:

- ``max_bucket_size``: buckets above the cap are excluded from pair
  generation and *accounted for* in a drops DataFrame (north_rule:
  documented drop counters, never silent truncation) — the reference's
  hard 25000-doc group guard (reference code/common.py:96).
- pairs are expanded by posexplode + tail-slice explode, so row memory
  is O(bucket), never O(bucket²), and the quadratic pair stream of a
  kept bucket is produced row-at-a-time inside whole-stage codegen.

The member list of an over-cap key is still built before the cap filter
drops it, so a single key must fit in one aggregation buffer.

``join_pair_sides`` is the one join-back of candidate pairs to a per-id
table (MinHash shingle sets, substring texts) for verification.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PairGenResult:
    pairs: DataFrame  # (id1, id2) distinct, id1 < id2
    drops: DataFrame  # (key..., bucket_size) buckets excluded by the cap


def grouped_pairs(
    postings: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    *,
    max_bucket_size: int,
    payload: list[str] | None = None,
    probe_left: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(pair rows, drops) for every two members sharing a key.

    Pair rows are NOT deduplicated across keys: (id1, id2) plus, when
    ``payload`` names member columns (e.g. ``["sig"]``), each side's member
    struct ``m1`` / ``m2`` of (id, *payload) so the caller can verify the
    pair in the same codegen stage. id1 < id2 always holds, and a
    duplicated (id, key) posting never pairs a doc with itself. In self
    mode ``m1`` is id1's member; in probe mode ``m1`` is the probe row and
    ``m2`` the index member, so a payload predicate must be symmetric in
    the two sides (Hamming distance is). drops: (key..., bucket_size) for
    every key over ``max_bucket_size``.

    ``probe_left``: optional EXPANDED postings (same columns) joined
    against the grouped index instead of pairing within each bucket — the
    multi-probe pattern (e.g. 1-bit simhash band flips). Bucket sizes and
    the cap are always measured on the ORIGINAL postings; a dropped key is
    absent from the index, so it is excluded from both sides.

    Pairs and drops are lazy plans over the same ``postings``: a caller
    consuming both recomputes the postings upstream once per side unless
    it materializes them first.
    """
    payload = payload or []
    keyed = postings.select(id_col, *payload, *key_cols)
    # id-only form collects bare ids; the payload form collects structs
    # ordered by id first, so sorting either orders members by id
    member = F.struct(id_col, *payload) if payload else F.col(id_col)
    grouped = keyed.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(member)).alias("members"),
        F.count("*").alias("bucket_size"),
    )
    drops = grouped.where(F.col("bucket_size") > max_bucket_size).select(
        *key_cols, "bucket_size"
    )
    kept = grouped.where(F.col("bucket_size") <= max_bucket_size)

    mid = (lambda c: F.col(c)[id_col]) if payload else F.col
    if probe_left is not None:
        # asymmetric probe join: probe rows hit the grouped index bucket
        # and fan out over its members. A ≤1-bit flipped band matches in
        # BOTH probe directions (XOR symmetric), so least/greatest ids keep
        # one orientation; callers dedup across keys. Members are not
        # swapped: per-field CASE orientation grew this stage's generated
        # method past the JIT's huge-method limit (measured 2× slower on
        # the SimHash multi-probe join, local[2] on a 4-CPU host).
        hits = probe_left.select(id_col, *payload, *key_cols).join(
            kept.select(*key_cols, "members"), on=key_cols
        )
        rows = hits.select(member.alias("m1"), F.explode("members").alias("m2"))
        id1 = F.least(mid("m1"), mid("m2"))
        id2 = F.greatest(mid("m1"), mid("m2"))
    else:
        lhs = kept.select(F.posexplode("members").alias("i", "m1"), "members")
        rows = lhs.select(
            "m1", F.explode(F.slice("members", F.col("i") + 2, F.size("members"))).alias("m2")
        )
        id1, id2 = mid("m1"), mid("m2")
    extra = ["m1", "m2"] if payload else []
    rows = rows.select(id1.alias("id1"), id2.alias("id2"), *extra)
    return rows.where(F.col("id1") < F.col("id2")), drops


def band_candidate_pairs(
    postings: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    *,
    max_bucket_size: int,
    probe_left: DataFrame | None = None,
    probe_unique: bool = False,
) -> PairGenResult:
    """All distinct ordered id pairs co-occurring under any key — the
    id-only form of ``grouped_pairs``.

    ``probe_unique``: set when ``probe_left`` posts at most ONE row per
    id (e.g. the substring detector's global-min fingerprint probe) — a
    pair is then generated at most once per probe orientation (≤2 total,
    exactly when each side carries the other's min in its posting set),
    so the trailing distinct exchange is skipped and deduplication is
    deferred to the caller's verification (which already ends in a
    distinct). Only valid for callers whose downstream dedups.
    """
    pairs, drops = grouped_pairs(
        postings, key_cols, id_col, max_bucket_size=max_bucket_size, probe_left=probe_left
    )
    if probe_left is not None and probe_unique:
        return PairGenResult(pairs, drops)
    # plain distinct: map-side partial dedup collapses the (band-count ×)
    # duplicate factor before the shuffle. Reducer parallelism for these
    # byte-small/CPU-heavy shuffles is protected by the session's
    # adaptive.coalescePartitions.minPartitionSize setting (session.py).
    return PairGenResult(pairs.distinct(), drops)


def join_pair_sides(
    pairs: DataFrame, table: DataFrame, id_col: str, value_col: str, names: tuple[str, str]
) -> DataFrame:
    """``pairs`` (id1, id2, ...) plus ``table``'s ``value_col`` for each
    side, named ``names``. The table is first pruned to ids that occur in
    some pair: candidates are sparse, the id list is bytes per candidate
    (broadcastable — AQE picks), and the values of non-candidates stay
    out of both join-back shuffles."""
    ids = (
        pairs.select(F.col("id1").alias(id_col))
        .unionByName(pairs.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    table = table.join(ids, id_col, "left_semi")
    v1 = table.select(F.col(id_col).alias("id1"), F.col(value_col).alias(names[0]))
    v2 = table.select(F.col(id_col).alias("id2"), F.col(value_col).alias(names[1]))
    return pairs.join(v1, "id1").join(v2, "id2")
