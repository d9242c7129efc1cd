"""MinHash + LSH band join near-duplicate detector (Jaccard regime).

Generalizes the reference's blocking stage (candidate generation without
all-pairs comparison — /root/reference/code/blocking/) to web text, per
BASELINE.json north_rule. Dataflow, scale-first:

1. shingle JVM-side (``word_shingles`` — pure Catalyst expression),
2. hash each shingle JVM-side with ``xxhash64`` (whole-stage codegen),
3. one Arrow-batched pandas UDF turns each doc's shingle-hash array into a
   ``num_perm``-long MinHash signature — a single numpy broadcast per doc,
   **zero shuffle** up to this point,
4. band keys derived JVM-side from the signature array (xxhash64 over
   (band index, band slice)), exploded to a postings table (id, band_key),
5. candidate pairs via the capped grouped band join (operators/joins.py),
6. verification joins the candidates back to the shingle arrays and keeps
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    fnv1a64_strings,
    hash_shingles_from_word_hashes,
    minhash_params,
    minhash_signature,
    minhash_signature_batch,
    to_i64,
)
from ..functions.partitioning import spread_small_input
from ..functions.text import py_words, word_shingles
from .joins import PairGenResult, band_candidate_pairs


@dataclass
class MinHashConfig:
    shingle_n: int = 3
    num_perm: int = 128
    bands: int = 32  # rows per band = num_perm // bands
    threshold: float = 0.8
    seed: int = 42
    max_bucket_size: int | None = 25000  # reference group guard, common.py:96
    # "python": shingle + hash + sign entirely inside one Arrow-batched UDF
    # (only the text column crosses Arrow) — the scale path.
    # "catalyst": shingle/hash as JVM expressions, UDF folds hash arrays.
    shingler: str = "python"

    @property
    def rows_per_band(self) -> int:
        assert self.num_perm % self.bands == 0
        return self.num_perm // self.bands


def add_signature(
    df: DataFrame, cfg: MinHashConfig, text_col: str = "text", out_col: str = "minhash_sig"
) -> DataFrame:
    """Append shingle-hash set + MinHash signature (arrays of long).

    Shingle *strings* never cross a process boundary — and in the default
    python mode they are never even BUILT: the UDF receives only the text
    (one string per row), hashes each word once (vectorized FNV-1a 64),
    and derives every n-gram shingle hash from the word hashes by n-1
    shifted-slice vector ops (``hash_shingles_from_word_hashes``, the
    unified sign-stage kernel — ~45× cheaper than string-FNV over every
    shingle, the dominant map-side cost at web scale). Shingle-set
    *cardinalities* equal the string-set semantics (distinct word
    sequences ↔ distinct hashes up to 64-bit collisions, ~1e-14/pair), so
    exact-Jaccard verification on hash sets equals verification on string
    sets."""
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    out_schema = T.StructType(
        [
            T.StructField("shingle_hashes", T.ArrayType(T.LongType())),
            T.StructField(out_col, T.ArrayType(T.LongType())),
        ]
    )

    if cfg.shingler == "python":
        n = cfg.shingle_n

        @F.pandas_udf(out_schema)
        def sign_text(texts: pd.Series) -> pd.DataFrame:
            hash_lists, sig_lists = [], []
            for t in texts:
                wh = fnv1a64_strings(py_words(t))
                hashes = hash_shingles_from_word_hashes(wh, n)
                hash_lists.append(to_i64(hashes))
                sig_lists.append(to_i64(minhash_signature(hashes, a, b)))
            return pd.DataFrame({"shingle_hashes": hash_lists, out_col: sig_lists})

        packed = df.withColumn("_sig", sign_text(F.col(text_col)))
        return packed.select(
            "*", F.col("_sig.shingle_hashes").alias("shingle_hashes"), F.col(f"_sig.{out_col}").alias(out_col)
        ).drop("_sig")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        arrays = [
            np.asarray(h, dtype=np.int64).view(np.uint64) if len(h) else np.empty(0, np.uint64)
            for h in hashes
        ]
        sigs = minhash_signature_batch(arrays, a, b)
        return pd.Series([to_i64(s).tolist() for s in sigs])

    sh_hashes = F.transform(
        word_shingles(text_col, cfg.shingle_n), lambda s: F.xxhash64(s)
    )
    return df.withColumn("shingle_hashes", sh_hashes).withColumn(
        out_col, sig_udf("shingle_hashes")
    )


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

    The shingle table is first pruned to ids that occur in some candidate
    pair: candidates are sparse (LSH at a high threshold touches a small
    fraction of the corpus), the id list is bytes-per-candidate
    (broadcastable — AQE picks), and the pruning keeps the KB-sized
    shingle arrays of non-candidates out of the two verify-join shuffles —
    measured 54s → 21s at 8 cores / 360k reps.
    """
    cand_ids = (
        pairs.select(F.col("id1").alias(id_col))
        .unionByName(pairs.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    shingled = shingled.join(cand_ids, id_col, "left_semi")
    s1 = shingled.select(F.col(id_col).alias("id1"), F.col("shingle_hashes").alias("sh1"))
    s2 = shingled.select(F.col(id_col).alias("id2"), F.col("shingle_hashes").alias("sh2"))
    joined = pairs.join(s1, "id1").join(s2, "id2")
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
        add_signature(base, cfg, text_col="text")
        .select("id", "shingle_hashes", "minhash_sig")
        .localCheckpoint(eager=True)
    )
    cands = minhash_candidate_pairs(signed, cfg, id_col="id")
    verified = verify_jaccard(cands.pairs, signed.select("id", "shingle_hashes"), cfg)
    return verified, cands.drops
