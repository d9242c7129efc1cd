"""MinHash + LSH band join near-duplicate detector (Jaccard regime).

Generalizes the reference's blocking stage (candidate generation without
all-pairs comparison — /root/reference/code/blocking/) to web text, per
BASELINE.json north_rule. Dataflow, scale-first:

1. one Arrow-batched pandas UDF (``signatures.add_all_signatures``, the
   same kernels the pipeline's sign stage runs) hashes each word once
   with FNV-1a 64, derives the n-gram shingle hashes from the word hashes
   and turns them into a ``num_perm``-long MinHash signature — only the
   text crosses Arrow, **zero shuffle** up to this point,
2. band keys derived JVM-side from the signature array (xxhash64 over
   (band index, band slice)), exploded to a postings table (id, band_key),
3. candidate pairs via the capped grouped band join (operators/joins.py),
4. verification joins the candidates back to the shingle arrays and keeps
   pairs whose **exact** Jaccard clears the threshold (array_intersect in
   the JVM) — so LSH only affects recall, never precision, and the final
   output is a deterministic function of the corpus.

Config mirrors the reference knobs: shingle size n (reference n=3 char-grams,
/root/reference/code/configs.json:66), threshold (jaccard 0.1..0.25 in the
reference stage configs, code/2_update_clusterIDs.py:89-107 — web near-dup
default here 0.8), num_perm=128, bands=32 (r=4 rows/band).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import spread_small_input
from .joins import PairGenResult, band_candidate_pairs, join_pair_sides
from .signatures import add_all_signatures


@dataclass
class MinHashConfig:
    shingle_n: int = 3
    num_perm: int = 128
    bands: int = 32  # rows per band = num_perm // bands
    threshold: float = 0.8
    seed: int = 42
    max_bucket_size: int = 25000  # reference group guard, common.py:96

    @property
    def rows_per_band(self) -> int:
        assert self.num_perm % self.bands == 0
        return self.num_perm // self.bands


def band_postings(
    df: DataFrame, cfg: MinHashConfig, id_col: str = "id", sig_col: str = "minhash_sig"
) -> DataFrame:
    """Explode signatures to (id, band_key). band_key = xxhash64 of the
    band INDEX plus the band's r signature values — hashed directly as
    (int, array<long>) in the JVM, replacing the former
    concat_ws-over-strings detour (per-posting string building was pure
    map-side CPU) and folding band_idx into the key so the band join is a
    single-long equi-join. Key values changed vs r5 but grouping semantics
    are identical (equal (band, slice) ⇒ equal key; cross-band collisions
    only add candidates, which exact verification removes)."""
    r = cfg.rows_per_band
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda bi: F.xxhash64(bi.cast("int"), F.slice(sig_col, bi * r + 1, r)),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(bands).alias("band_key")
    )


def minhash_candidate_pairs(
    df: DataFrame, cfg: MinHashConfig, id_col: str = "id", sig_col: str = "minhash_sig"
) -> PairGenResult:
    postings = band_postings(df, cfg, id_col=id_col, sig_col=sig_col)
    return band_candidate_pairs(
        postings,
        key_cols=["band_key"],
        id_col="id",
        max_bucket_size=cfg.max_bucket_size,
    )


def verify_jaccard(
    pairs: DataFrame, shingled: DataFrame, cfg: MinHashConfig, id_col: str = "id"
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    shingled: (id, shingle_hashes). Output: (id1, id2, inter_size,
    union_size) with Jaccard ≥ cfg.threshold, integer-exact comparison.

    The join-back (``join_pair_sides``) prunes the shingle table to
    candidate ids first: LSH at a high threshold touches a small fraction
    of the corpus, so the KB-sized shingle arrays of non-candidates stay
    out of the two verify-join shuffles — measured 54s → 21s at 8 cores /
    360k reps.
    """
    joined = join_pair_sides(pairs, shingled, id_col, "shingle_hashes", ("sh1", "sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    sz1, sz2 = F.size("sh1"), F.size("sh2")
    num = int(round(cfg.threshold * 10**6))
    return joined.select(
        "id1",
        "id2",
        inter.cast("long").alias("inter_size"),
        (sz1 + sz2 - inter).cast("long").alias("union_size"),
    ).where(F.col("inter_size") * 10**6 >= F.col("union_size") * num)


def minhash_lsh_pairs(
    df: DataFrame, cfg: MinHashConfig | None = None, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """End-to-end: (verified_pairs, dropped_buckets).

    verified_pairs: (id1, id2, inter_size, union_size), id1 < id2, exact
    Jaccard ≥ threshold among LSH candidates.
    """
    cfg = cfg or MinHashConfig()
    # spread: the signature UDF's parallelism is capped by the scan's
    # partition count (a one-file table signs on ONE core); no-op at scale
    base = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), key="id"
    )
    # eager materialization: the signature branch feeds the band join AND
    # both sides of the verify join; a lazy persist still recomputes the
    # UDF chain 3× when all consumers race inside one downstream action.
    # text is dropped — downstream only needs shingles + signature.
    signed = (
        add_all_signatures(base, cfg)
        .select("id", "shingle_hashes", "minhash_sig")
        .localCheckpoint(eager=True)
    )
    cands = minhash_candidate_pairs(signed, cfg, id_col="id")
    verified = verify_jaccard(cands.pairs, signed.select("id", "shingle_hashes"), cfg)
    return verified, cands.drops
