"""Exact-substring duplicate detector via winnowing fingerprints.

The north_rule's third detector: find pairs where one page's extracted text
is wholly contained in another's (boilerplate wrapping). The reference's
closest machinery is its suffix-structure-free exact blocking; the
distributed design here replaces a global suffix array with **winnowing**
(Schleimer, Wilkerson & Aiken, SIGMOD'03 — the MOSS fingerprinting scheme):

1. per doc, rolling k-gram hashes over the UTF-8 bytes, windowed minima
   (window w, rightmost tie-break) → a sparse fingerprint set, ~2/(w+1)
   density — computed in the shared Arrow-batched signing pass
   (operators/signatures.py), no shuffle;
2. candidates via the MIN-FINGERPRINT containment join: the query side
   posts ONE row per doc (its global-minimum fingerprint) against the
   index side's full winnow set. This is asymmetric on purpose —
   containment is an asymmetric relation — and it collapses the join's
   left side by the winnow density factor (~(w+1)/2 ≈ 190 postings/doc →
   1) versus the naive share-any-fingerprint self-join, which at 400k
   synthetic pages meant 75M × 75M postings and was the single largest
   non-scaling cost in the whole pipeline;
3. verification = substring containment on the candidate pair's texts via
   ``contains`` INSIDE whole-stage codegen (no Python, no Arrow text
   transfer).

Exactness of step 2 (both directions of the winnowing argument):
- A's global-min fingerprint m is the min of every winnow window of A that
  contains it, and A has ≥ 1 full window when its gram count
  len_bytes(A) − k + 1 ≥ w, i.e. len(A) ≥ w + k − 1 = t ≤ min_len —
  so m is in A's selected set;
- if A ⊆ B, the copied span inside B contains ≥ w consecutive grams, so
  some window of B lies WHOLLY inside the span; every gram of that window
  is an A-gram, so that window's minimum VALUE is m, and winnowing selects
  a position achieving it — so the value m is in B's selected set too
  (ties select a different position but the same joined value).
Hence every true containment pair shares the inner's min fingerprint, and
verification makes the output exactly
{(inner, outer) : inner.text ⊆ outer.text, len(inner) ≥ min_len, inner ≠ outer}.

Suffix-array note: a per-partition suffix array (mapInArrow over
concatenated partition text) was considered; winnowing wins at scale
because it needs no cross-partition boundary handling — fingerprints are a
per-row map-side computation and the only shuffle is the candidate join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import spread_small_input
from .joins import PairGenResult, band_candidate_pairs, join_pair_sides
from .signatures import add_all_signatures


@dataclass
class SubstringConfig:
    min_len: int = 50  # chars; containment pairs below this are out of scope
    k: int = 25  # gram length (bytes)
    w: int = 26  # winnow window ⇒ guarantee threshold t = w + k - 1 = 50
    # cap on docs sharing a fingerprint — same default as the reference's
    # 25000-doc group guard (code/common.py:96) and the other detectors;
    # a ubiquitous boilerplate fingerprint must never blow up silently.
    # (With the min-fp query side the join is linear per bucket — index
    # rows × the handful of min-fp queries landing there — so the cap is a
    # boilerplate guard, not a quadratic guard.)
    max_fingerprint_df: int = 25000

    @property
    def guarantee_t(self) -> int:
        return self.w + self.k - 1


def substring_pairs(
    df: DataFrame,
    cfg: SubstringConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(containment_pairs, dropped_fingerprints).

    containment_pairs: (inner_id, outer_id) where inner.text is a substring
    of outer.text, length(inner.text) ≥ min_len (chars), inner_id ≠ outer_id.
    Equal texts yield both directions (they are each other's substring) —
    callers that collapse exact duplicates first never see that case.
    """
    cfg = cfg or SubstringConfig()
    assert cfg.min_len >= cfg.guarantee_t, "winnowing guarantee requires min_len >= w+k-1"
    # NULL text → '' so verification's containment check never sees None
    # (the fingerprint UDF already maps None → ''). base is NOT
    # checkpointed (r6): it is a plain column projection of the source —
    # re-scanning it for the two verify sides is cheaper than an extra
    # eager-checkpoint job + its plan conversion, and containment_verify
    # semi-join-prunes to candidate ids before touching text anyway.
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("text"),
    )
    # eager checkpoint of the (id, n_chars, fingerprints) arrays: the join
    # consumes them three ways (bucket sizes, the index side, the min-fp
    # query side). Uncheckpointed, each consumer re-runs the winnowing UDF
    # over the corpus — measured as the single hottest plan in the
    # pipeline (fingerprint subtree ~8× in one stage write). The arrays
    # are longs — tiny relative to the texts. The winnow UDF's parallelism
    # is capped by the scan's partition count (a one-file table
    # fingerprints on ONE core), so the input is spread first — no-op at
    # real scale.
    fparr = (
        add_all_signatures(spread_small_input(base, key="id"), sub=cfg)
        .select("id", F.length("text").alias("n_chars"), "fingerprints")
        .localCheckpoint(eager=True)
    )
    cands = min_fingerprint_candidates(fparr, cfg)
    return containment_verify(cands.pairs, base, cfg.min_len), cands.drops


def min_fingerprint_candidates(fparr: DataFrame, cfg: SubstringConfig) -> PairGenResult:
    """Candidate pairs (id1, id2) and dropped fingerprints of the
    min-fingerprint containment join over ``fparr`` =
    (id, n_chars, fingerprints). The index side posts every fingerprint;
    the query side posts one row per doc, its global-min fingerprint (see
    the module docstring for the exactness argument). Docs shorter than
    min_len can never be an inner, so they are pruned from the query side
    before the join, not just at verification."""
    fps = fparr.select("id", F.explode("fingerprints").alias("fp"))
    minfp = (
        fparr.where(F.col("n_chars") >= cfg.min_len)
        .select("id", F.array_min("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    return band_candidate_pairs(
        fps, key_cols=["fp"], id_col="id",
        max_bucket_size=cfg.max_fingerprint_df, probe_left=minfp,
        probe_unique=True,  # one min-fp posting per doc; verify dedups
    )


def containment_verify(
    pairs: DataFrame, base: DataFrame, min_len: int
) -> DataFrame:
    """Containment verification of candidate pairs.

    ``pairs``: (id1, id2); ``base``: (id, text) with non-null text. Output
    (inner_id, outer_id) distinct, inner.text ⊆ outer.text and
    length(inner) ≥ min_len. The containment check is ``contains`` INSIDE
    whole-stage codegen — a JVM substring search per direction, evaluated
    once per candidate row, with no Python workers and no Arrow transfer
    of the (fat) text columns; the r5 profile showed the former pandas-UDF
    verify as the pipeline's fattest stage (458 task-seconds at 400k docs,
    dominated by shipping both full texts per pair out to Python). The
    join-back (``join_pair_sides``) prunes the text table to candidate ids
    first, so non-candidate texts stay out of both verify-join shuffles."""
    paired = join_pair_sides(pairs, base, "id", "text", ("t1", "t2"))

    directed = paired.select(
        F.explode(
            F.array(
                F.when(
                    F.contains(F.col("t2"), F.col("t1"))
                    & (F.length("t1") >= min_len),
                    F.struct(
                        F.col("id1").alias("inner_id"), F.col("id2").alias("outer_id")
                    ),
                ),
                F.when(
                    F.contains(F.col("t1"), F.col("t2"))
                    & (F.length("t2") >= min_len),
                    F.struct(
                        F.col("id2").alias("inner_id"), F.col("id1").alias("outer_id")
                    ),
                ),
            )
        ).alias("p")
    )
    return (
        directed.where(F.col("p").isNotNull())
        .select("p.inner_id", "p.outer_id")
        .distinct()
    )
