"""64-bit SimHash detector with pigeonhole byte-block candidates.

Algorithmic parity with the reference's simhash pass
(/root/reference/code/blocking/code/simhash_components_disk_v3.py):

- per-feature FNV-1a 64 hashes (:159-177) → bit-majority fold into one
  64-bit signature (feats2docint, :182-187),
- candidate generation: with the signature split into 8 byte-blocks and
  Hamming radius k=7, any pair within radius must agree on ≥1 whole block
  (pigeonhole; the reference realizes this as 8 lexsort orderings,
  :258-275 — here it is a plain equi-join on (block_idx, block_value)),
- verification: popcount(sig1 XOR sig2) ≤ k (dif, :179-180) — in Spark a
  built-in: bit_count(xor) (SURVEY.md §2.3).

The default ``hash_fn="wordhash"`` signs through the shared signing pass
(operators/signatures.py — the pipeline's sign-stage kernels): each word is
FNV-hashed once, gram hashes derive from word hashes, and the bit-majority
fold (``simhash64``) runs per doc on exact int64 bit counts. The
reference-parity ``hash_fn="python"`` signer FNV-hashes each gram string.

Scale note (10^12 docs): 8-bit block keys collide at rate 1/256, so the
naive candidate join is quadratic at web scale. Controls, in order:
(1) the pipeline's collapse stage removes exact dups first
    (plans/pipeline.py),
(2) ``max_bucket_size`` cap with drop counters (operators/joins.py),
(3) the ``bits_per_band=16`` configuration (4 blocks, exact for k ≤ 3) whose
    keys collide at 1/65536 — the recommended web-scale setting.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import fnv1a64_strings, simhash64
from ..functions.partitioning import spread_small_input
from ..functions.text import py_word_shingles
from .joins import grouped_pairs
from .signatures import add_all_signatures


@dataclass
class SimHashConfig:
    # word BIgrams by default: unigram sets collapse on narrow vocabularies
    # (every doc ≈ the whole vocab ⇒ hamming ≈ 0 between unrelated docs),
    # while bigrams keep near-dup pairs ≤ k and random pairs far above it
    gram_n: int = 2
    hamming_k: int = 7
    bits_per_band: int = 8  # 8 → 8 blocks (exact for k ≤ 7); 16 → 4 blocks (k ≤ 3)
    # 1-bit multi-probe: the query side of the band join also posts every
    # single-bit flip of each band value. Pigeonhole: if every band of a
    # pair differs in ≥2 bits, hamming ≥ 2·bands — so probing recovers
    # EXACTNESS for k ≤ 2·bands−1. The web-scale setting is
    # bits_per_band=16 + multi_probe (exact k ≤ 7 with 16-bit keys whose
    # random-collision rate is 17/65536 per band ≈ 30× below 8-bit blocks);
    # plain 16-bit banding is exact only to k ≤ 3 and leaves the 4..7 tail
    # probabilistic.
    multi_probe: bool = False
    max_bucket_size: int = 25000
    # "wordhash" (default): the shared signing pass — FNV-hash each word
    # once, derive gram hashes from word hashes by vector arithmetic
    # (functions/hashing.hash_shingles_from_word_hashes, ~45× cheaper than
    # string-FNV over every gram). Signature VALUES differ from the
    # string-FNV family but the Hamming structure is the same (equal word
    # sequences ⇒ equal feature hashes).
    # "python": gram strings built + FNV-1a-hashed per doc — bit-parity
    # with the reference's hash choice (simhash_components_disk_v3.py:159-177).
    hash_fn: str = "wordhash"

    @property
    def bands(self) -> int:
        return 64 // self.bits_per_band

    def exactness_holds(self) -> bool:
        """Pigeonhole guarantee: plain banding is exact when some block
        must be untouched (k < bands); 1-bit multi-probe is exact when
        some block must carry ≤1 flipped bit (k ≤ 2·bands−1)."""
        if self.multi_probe:
            return self.hamming_k <= 2 * self.bands - 1
        return self.hamming_k < self.bands


def add_simhash(df: DataFrame, cfg: SimHashConfig, text_col: str = "text") -> DataFrame:
    """``df`` plus a 64-bit ``simhash`` column over distinct word n-grams —
    the reference's simhash also hashes word/field features, not raw
    character windows (simhash_components_disk_v3.py hashes representation
    feature strings)."""
    if cfg.hash_fn == "wordhash":
        return add_all_signatures(df, sh=cfg, text_col=text_col)
    if cfg.hash_fn != "python":
        raise ValueError(f"unknown SimHashConfig.hash_fn {cfg.hash_fn!r}")
    n = cfg.gram_n

    @F.pandas_udf(T.LongType())
    def sign_text(texts: pd.Series) -> pd.Series:
        sigs = [simhash64(fnv1a64_strings(py_word_shingles(t, n))) for t in texts]
        return pd.Series(np.array(sigs, dtype=np.uint64).view(np.int64))

    return df.withColumn("simhash", sign_text(F.col(text_col)))


def _block_postings(
    df: DataFrame, cfg: SimHashConfig, flips: bool, id_col: str, sig_col: str
) -> DataFrame:
    """(id, sig, band_key): band_key = the band's bits of the signature with
    the band INDEX folded into the high bits (value | band_idx << w) — one
    flat long key per posting instead of a two-column (band_idx, band_key)
    join key; grouping semantics are identical since the fold is injective.
    ``flips`` also posts every single-bit flip of each band value (the
    multi-probe query side). Pure JVM bit ops — no UDF. The full signature
    rides along (8 bytes/posting) so the band join verifies Hamming
    distance in-join."""
    w = cfg.bits_per_band
    mask = (1 << w) - 1
    keys = []
    for bi in range(cfg.bands):
        block = F.shiftrightunsigned(F.col(sig_col), bi * w).bitwiseAND(F.lit(mask))
        variants = [block] + ([block.bitwiseXOR(F.lit(1 << j)) for j in range(w)] if flips else [])
        keys += [v.bitwiseOR(F.lit(bi << w)) for v in variants]
    return df.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig"),
        F.explode(F.array(*keys)).alias("band_key"),
    )


def hamming(col1, col2):
    return F.bit_count(col1.bitwiseXOR(col2))


def simhash_pairs(
    df: DataFrame,
    cfg: SimHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(verified_pairs, dropped_buckets).

    verified_pairs: (id1, id2, hamming_dist), id1 < id2, Hamming ≤ k over
    the 64-bit signatures. With the default 8×8 block config (or 16-bit
    bands + multi-probe) this is the EXACT set of ≤k pairs (pigeonhole) up
    to bucket-cap drops. Uses the fused join-verify
    (``simhash_verified_pairs``): no candidate materialization.
    """
    cfg = cfg or SimHashConfig()
    # spread: the signing UDF's parallelism is capped by the scan's
    # partition count (one-file tables sign on ONE core); no-op at scale
    base = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), key="id"
    )
    signed = add_simhash(base, cfg, text_col="text").select("id", "simhash")
    if cfg.multi_probe:
        # multi-probe consumes `signed` twice (index + probe sides);
        # materialize so the signing UDF runs once. The default grouped
        # path is a single linear chain — no checkpoint needed.
        signed = signed.localCheckpoint(eager=True)
    return simhash_verified_pairs(signed, cfg, id_col="id")


def simhash_verified_pairs(
    signed: DataFrame, cfg: SimHashConfig, id_col: str = "id", sig_col: str = "simhash"
) -> tuple[DataFrame, DataFrame]:
    """Band join and Hamming verification FUSED into one operator:
    (verified_pairs, dropped_buckets).

    The postings carry the 8-byte signature as ``grouped_pairs`` member
    payload, so the band equi-join's output rows are filtered by
    ``bit_count(sig1 xor sig2) ≤ k`` inside whole-stage codegen BEFORE
    anything materializes. Versus a candidates-then-verify composition
    (distinct candidate ids joined back to the signatures) this removes
    the candidate-pair distinct shuffle and two signature join-backs — at multi-probe candidate volumes (n²·(w+1)/2^w per band on
    uniform signatures) those dominate the detector: measured 65.7M
    candidate rows → 231s at 8 cores for 400k docs, vs the same exact
    output through this path with the only shuffle being the postings
    exchange (+8 bytes/row). The surviving pair set is tiny (verified
    pairs), so the final distinct is cheap.

    Multi-probe: a ≤1-bit-flipped band matches in BOTH probe directions
    (XOR is symmetric), and the generator's least/greatest orientation plus
    the final distinct keep exactly one instance of every pair.
    """
    postings = _block_postings(signed, cfg, False, id_col, sig_col)
    probe = _block_postings(signed, cfg, True, id_col, sig_col) if cfg.multi_probe else None
    rows, drops = grouped_pairs(
        postings, ["band_key"], "id", payload=["sig"],
        max_bucket_size=cfg.max_bucket_size, probe_left=probe,
    )
    hits = rows.select(
        "id1", "id2", hamming(F.col("m1.sig"), F.col("m2.sig")).cast("int").alias("hamming_dist")
    ).where(F.col("hamming_dist") <= cfg.hamming_k)
    return hits.distinct(), drops
