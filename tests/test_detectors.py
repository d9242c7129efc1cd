"""Detector correctness vs brute-force all-pairs oracles on a planted corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from outcite_duplicate_detecting_spark.functions.hashing import fnv1a64_strings, simhash64
from outcite_duplicate_detecting_spark.operators.dedup import exact_duplicates, jaccard_pairs
from outcite_duplicate_detecting_spark.operators.joins import band_candidate_pairs, grouped_pairs
from outcite_duplicate_detecting_spark.operators.minhash import MinHashConfig, minhash_lsh_pairs
from outcite_duplicate_detecting_spark.operators.simhash import SimHashConfig, simhash_pairs
from outcite_duplicate_detecting_spark.operators.substring import SubstringConfig, substring_pairs
from outcite_duplicate_detecting_spark.sources.pages import CorpusSpec, generate_pages_pdf

SPEC = CorpusSpec(
    n_singletons=60,
    n_exact_clusters=8,
    n_near_clusters=8,
    n_fuzzy_clusters=8,
    n_substring_clusters=8,
    n_hard_negative_pairs=8,
    seed=7,
)


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_pages_pdf(SPEC)
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    df = spark.createDataFrame(pdf[["doc_id", "text", "gold_cluster_id", "dup_kind"]])
    return pdf, df.cache()


def py_shingles(t, n=3):
    w = [x for x in t.lower().split() if x]
    return set(" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1)))


def brute_jaccard_pairs(pdf, n=3, threshold=0.8):
    sh = {r.doc_id: py_shingles(r.text, n) for r in pdf.itertuples()}
    ids = sorted(sh)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            union = len(sh[a]) + len(sh[b]) - inter
            if inter * 10**6 >= union * int(round(threshold * 10**6)):
                out.add((a, b))
    return out


def test_exact_duplicates(spark, corpus):
    pdf, df = corpus
    got = exact_duplicates(df).collect()
    from collections import Counter

    counts = Counter(pdf["text"])
    want_texts = {t for t, c in counts.items() if c > 1}
    assert len(got) == len(want_texts)
    for r in got:
        ids = sorted(pdf.index[pdf["text"] == pdf["text"][r["member_ids"][0]]].tolist())
        assert r["member_ids"] == ids
        assert r["canonical_id"] == ids[0]


def test_jaccard_pairs_exact_oracle(spark, corpus):
    pdf, df = corpus
    want = brute_jaccard_pairs(pdf, n=3, threshold=0.8)
    got = {(r["id1"], r["id2"]) for r in jaccard_pairs(df, threshold=0.8).collect()}
    assert got == want


def test_minhash_lsh_recall_and_precision(spark, corpus):
    pdf, df = corpus
    want = brute_jaccard_pairs(pdf, n=3, threshold=0.8)
    cfg = MinHashConfig(threshold=0.8)
    verified, drops = minhash_lsh_pairs(df, cfg)
    got = {(r["id1"], r["id2"]) for r in verified.collect()}
    assert drops.count() == 0
    # precision is exact by construction (verify step)
    assert got <= want
    # recall ≥ 0.99 required by BASELINE.json; planted pairs are J≥0.9 so
    # 32 bands × 4 rows should find every one
    assert len(got) >= 0.99 * len(want)


def brute_simhash_pairs(pdf, k=7, n=2):
    def grams(t):
        w = [x for x in t.lower().split() if x]
        return list(
            dict.fromkeys(
                " ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))
            )
        )

    sigs = {}
    for r in pdf.itertuples():
        h = fnv1a64_strings(grams(r.text))
        sigs[r.doc_id] = simhash64(h)
    ids = sorted(sigs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= k:
                out.add((a, b))
    return out


def test_simhash_pigeonhole_exact_fnv(spark, corpus):
    """python/string-FNV mode: signatures bit-match the reference fold."""
    pdf, df = corpus
    want = brute_simhash_pairs(pdf, k=7)
    cfg = SimHashConfig(hamming_k=7, hash_fn="python")
    assert cfg.exactness_holds()
    verified, drops = simhash_pairs(df, cfg)
    got = {(r["id1"], r["id2"]) for r in verified.collect()}
    assert drops.count() == 0
    assert got == want  # pigeonhole ⇒ EXACT, not approximate


def brute_wordhash_simhash_sigs(pdf, n=2):
    """Brute signatures under the default wordhash kernel (the unified
    sign-stage hash family: FNV per word, shifted-slice gram combiner)."""
    from outcite_duplicate_detecting_spark.functions.hashing import (
        hash_shingles_from_word_hashes,
    )
    from outcite_duplicate_detecting_spark.functions.text import py_words

    return {
        r.doc_id: simhash64(
            hash_shingles_from_word_hashes(fnv1a64_strings(py_words(r.text)), n)
        )
        for r in pdf.itertuples()
    }


def test_simhash_pigeonhole_exact_wordhash_default(spark, corpus):
    """default (wordhash-kernel) mode: the band join finds exactly the ≤k
    pairs of the kernel's signatures (pigeonhole), verified brute-force."""
    pdf, df = corpus
    sigs = brute_wordhash_simhash_sigs(pdf)
    want = {
        (a, b)
        for i, a in enumerate(sorted(sigs))
        for b in sorted(sigs)[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 7
    }
    cfg = SimHashConfig(hamming_k=7)
    assert cfg.hash_fn == "wordhash" and cfg.exactness_holds()
    verified, drops = simhash_pairs(df, cfg)
    got = {(r["id1"], r["id2"]) for r in verified.collect()}
    assert drops.count() == 0
    assert got == want


def test_add_all_signatures_each_config_alone_matches_pipeline(spark, corpus):
    """Standalone detectors sign exactly like the pipeline: each config
    passed alone to the one signing UDF returns only its own columns, equal
    row for row to the three-config call the pipeline's sign stage makes."""
    from outcite_duplicate_detecting_spark.operators.signatures import add_all_signatures
    from outcite_duplicate_detecting_spark.plans.pipeline import PipelineConfig

    _, df = corpus
    base = df.select("doc_id", "text")
    cfg = PipelineConfig()
    full = add_all_signatures(base, cfg.minhash, cfg.simhash, cfg.substring)
    assert full.columns == [
        "doc_id", "text", "shingle_hashes", "minhash_sig", "simhash", "fingerprints"
    ]

    def rows(signed, cols):
        return {r["doc_id"]: tuple(r[c] for c in cols) for r in signed.collect()}

    for alone, cols in [
        (add_all_signatures(base, cfg.minhash), ["shingle_hashes", "minhash_sig"]),
        (add_all_signatures(base, sh=cfg.simhash), ["simhash"]),
        (add_all_signatures(base, sub=cfg.substring), ["fingerprints"]),
    ]:
        assert alone.columns == ["doc_id", "text", *cols]
        got = rows(alone, cols)
        assert len(got) == base.count()
        assert got == rows(full, cols)


def brute_containment_pairs(pdf, min_len=50):
    rows = [(r.doc_id, r.text) for r in pdf.itertuples()]
    out = set()
    for a, ta in rows:
        if len(ta) < min_len:
            continue
        for b, tb in rows:
            if a != b and ta in tb:
                out.add((a, b))
    return out


def test_substring_exact(spark, corpus):
    pdf, df = corpus
    want = brute_containment_pairs(pdf, min_len=50)
    verified, drops = substring_pairs(df, SubstringConfig())
    got = {(r["inner_id"], r["outer_id"]) for r in verified.collect()}
    assert drops.count() == 0
    assert got == want


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_substring_minfp_recall_adversarial_ties(spark, seed):
    """Property test of the min-fingerprint winnowing argument (r5 verdict
    advisory #5) at its edges: random plants over a TWO-letter alphabet
    (maximal k-gram hash ties/collisions), heavy periodic repeats (every
    winnow window full of equal minima — the rightmost-tie-break path),
    plants exactly at the guarantee threshold len == min_len, and shared
    inner spans planted into multiple outers. The end-to-end output must
    equal the brute-force containment oracle — which in particular means
    candidate recall before verification was 1.0 (verification can only
    drop pairs, never add)."""
    rng = np.random.RandomState(seed)
    cfg = SubstringConfig()  # min_len=50, k=25, w=26
    docs = []
    def rnd(n):
        return "".join(rng.choice(list("ab"), size=n))
    # periodic / tie-heavy inners, including exactly-threshold lengths
    inners = [
        "ab" * 25,                # len 50 == min_len, period 2
        "a" * 50,                 # all-equal grams: every window ties
        rnd(50),
        rnd(73),
        ("aba" * 20)[:55],        # period 3
    ]
    for i, t in enumerate(inners):
        docs.append((i, t))
    # outers embedding each inner at random offsets (some share inners)
    nid = len(inners)
    for i, t in enumerate(inners):
        for _ in range(2):
            pre, post = rnd(int(rng.randint(0, 60))), rnd(int(rng.randint(0, 60)))
            docs.append((nid, pre + t + post))
            nid += 1
    # noise docs, some shorter than min_len
    for _ in range(25):
        docs.append((nid, rnd(int(rng.randint(10, 120)))))
        nid += 1
    import pandas as pd

    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    want = brute_containment_pairs(pdf, min_len=cfg.min_len)
    df = spark.createDataFrame(pdf)
    verified, _drops = substring_pairs(df, cfg)
    got = {(r["inner_id"], r["outer_id"]) for r in verified.collect()}
    assert got == want


@pytest.mark.parametrize("form", ["self", "probe", "payload"])
def test_bucket_cap_drops_accounted(spark, form):
    """A 20000-member hot key over a cap of 1000 is dropped and counted,
    not paired, in every form of the grouped pair generator. Key 2 mixes
    two hot-key members with one outsider and carries a duplicated
    (id, key) posting, which must never pair a doc with itself."""
    hot = spark.range(20000).select(F.col("id"), F.lit(1).alias("band_key"))
    small = spark.createDataFrame(
        [(0, 2), (1, 2), (100000, 2), (100000, 2)], "id long, band_key int"
    )
    df = hot.unionByName(small).withColumn("w", F.col("id") * 2)
    if form == "payload":
        rows, drops = grouped_pairs(df, ["band_key"], "id", payload=["w"], max_bucket_size=1000)
        got = rows.collect()
        assert all(r["m1"]["w"] == 2 * r["id1"] and r["m2"]["w"] == 2 * r["id2"] for r in got)
    else:
        probe = df if form == "probe" else None
        res = band_candidate_pairs(df, ["band_key"], "id", max_bucket_size=1000, probe_left=probe)
        got, drops = res.pairs.collect(), res.drops
    assert all(r["id1"] < r["id2"] for r in got)  # no self-pair, oriented
    assert {(r["id1"], r["id2"]) for r in got} == {(0, 1), (0, 100000), (1, 100000)}
    assert [tuple(r) for r in drops.collect()] == [(1, 20000)]


def test_jaccard_pairs_hot_shingle_cap(spark):
    from outcite_duplicate_detecting_spark.operators.dedup import jaccard_pairs_with_drops

    # 30 docs all sharing one stop-shingle; two genuine near-dup docs
    rows = [(int(i), f"common stop phrase unique{i} tail{i} word{i}") for i in range(30)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs, drops = jaccard_pairs_with_drops(df, threshold=0.5, max_bucket_size=10)
    d = drops.collect()
    assert {r["shingle"] for r in d} == {"common stop phrase"}
    assert d[0]["bucket_size"] == 30
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert got == {(100, 101)}  # stop-shingle bucket generated no pairs

    # no bucket over the cap: exactly the brute-force all-pairs result
    capped, drops2 = jaccard_pairs_with_drops(df, threshold=0.5, max_bucket_size=25000)
    assert drops2.count() == 0
    import pandas as pd

    want = brute_jaccard_pairs(pd.DataFrame(rows, columns=["doc_id", "text"]), threshold=0.5)
    assert {(r["id1"], r["id2"]) for r in capped.collect()} == want


def test_simhash_multiprobe_exact_k7_at_16bit(spark, corpus):
    """16-bit bands alone are pigeonhole-exact only for hamming ≤ 3; with
    1-bit multi-probe they are exact for ≤ 2·4−1 = 7 — the web-scale
    config. Verified against the brute-force hamming oracle."""
    import itertools

    pdf, df = corpus
    sigs = brute_wordhash_simhash_sigs(pdf)
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 7
    }
    cfg = SimHashConfig(bits_per_band=16, multi_probe=True)
    assert cfg.exactness_holds()
    verified, drops = simhash_pairs(df, cfg)
    got = {(r["id1"], r["id2"]) for r in verified.collect()}
    assert drops.count() == 0
    assert got == want  # exact: no tail loss, no false positives
