"""Exact and exact-Jaccard deduplication.

- ``exact_duplicates``: hash-groupBy on the content digest. Reference
  analogue: SHA-1 repIDs + ON-CONFLICT frequency upsert
  (/root/reference/code/blocking/code/make_representations_v3.py:47-49,76).
  Spark's partial/final hash aggregation does the two-phase merge natively;
  no shuffle beyond the one groupBy.
- ``jaccard_pairs``: exact shingle-Jaccard pair join via the exploded
  inverted index — the relational form of the reference's CSR dot products
  (/root/reference/code/common.py:265-312): explode distinct shingles,
  self-join on shingle, groupBy(pair).count() = intersection size, then
  the Jaccard identity |A∩B| / (|A|+|B|−|A∩B|). Used as the brute-force
  oracle for MinHash and as a first-class operator for small-N exact mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import spread_small_input
from ..functions.text import word_shingles
from .joins import grouped_pairs


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per text occurring more than once: digest, freq, member ids,
    canonical (minimum) id."""
    digest = F.sha2(F.col(text_col), 256).alias("text_sha")
    return (
        df.select(digest, F.col(id_col))
        .groupBy("text_sha")
        .agg(
            F.count("*").alias("freq"),
            F.min(id_col).alias("canonical_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("freq") > 1)
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    return df.withColumn(out_col, word_shingles(text_col, n))


def jaccard_condition(inter: Column, s1: Column, s2: Column, threshold: float) -> Column:
    """inter/(s1+s2-inter) >= threshold, in exact integer arithmetic.

    threshold is interpreted as a ratio num/den with den = 10^6 to avoid
    float comparison drift between engines.
    """
    num = int(round(threshold * 10**6))
    return inter * 10**6 >= (s1 + s2 - inter) * num


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int = 25000,
) -> DataFrame:
    """(id1, id2, inter_size, union_size) for all pairs with exact
    word-n-shingle Jaccard ≥ threshold; id1 < id2. See
    ``jaccard_pairs_with_drops`` for the hot-shingle guard semantics."""
    pairs, _drops = jaccard_pairs_with_drops(
        df, id_col=id_col, text_col=text_col, n=n, threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    return pairs


def jaccard_pairs_with_drops(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int = 25000,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped_shingles).

    ``max_bucket_size`` is the reference's 25000-doc group guard
    (code/common.py:96) applied to the shingle inverted index: a shingle
    shared by more docs than the cap (a stop-phrase) is excluded from pair
    generation and accounted for in ``dropped_shingles`` (shingle,
    bucket_size) — never silently. The guard is conservative: per-doc set
    sizes keep counting dropped shingles, so a surviving pair's Jaccard is
    under-, never over-stated (precision preserved; recall loss = pairs
    whose overlap rode only on dropped shingles, bounded by the drops
    table). With no bucket over the cap the output is exactly the uncapped
    all-pairs result.

    Dataflow: ``grouped_pairs`` (operators/joins.py) builds the inverted
    index as grouped posting lists with each doc's set size as member
    payload, in one shuffle; its pair rows are partially aggregated
    map-side into the intersection count before the only other exchange
    (by pair).
    """
    base = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), key="id"
    )
    sh = base.select(F.col("id"), word_shingles("text", n).alias("sh"))
    ex = sh.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("shingle")
    )
    # the pairs branch groups on xxhash64(shingle) — 8 bytes through the
    # shuffle and the aggregation hash table instead of the ~25-byte
    # shingle string (§2.3 narrower types). A 64-bit collision merging two
    # distinct shingles could overstate one pair's intersection by 1
    # (P ≈ pairs·2⁻⁶⁴ — the same accepted risk class as MinHash's
    # hashed-shingle verification, which is oracled against the string
    # semantics and matches). The drops branch below accounts hot buckets
    # on the REAL strings, lazily — it only computes when a caller
    # consumes the drops side.
    exh = ex.select("id", "sz", F.xxhash64("shingle").alias("h"))
    rows, _ = grouped_pairs(exh, ["h"], "id", payload=["sz"], max_bucket_size=max_bucket_size)
    drops = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket_size)
    )
    inter = rows.groupBy(
        "id1", "id2", F.col("m1.sz").alias("sz1"), F.col("m2.sz").alias("sz2")
    ).agg(F.count("*").alias("inter_size"))
    pairs = (
        inter.where(
            jaccard_condition(F.col("inter_size"), F.col("sz1"), F.col("sz2"), threshold)
        )
        .select(
            "id1",
            "id2",
            F.col("inter_size").cast("long").alias("inter_size"),
            (F.col("sz1") + F.col("sz2") - F.col("inter_size")).cast("long").alias("union_size"),
        )
    )
    return pairs, drops
