"""End-to-end pipeline: recall vs planted gold, byte-identity, resume."""

import itertools
import os

import pytest
from pyspark.sql import functions as F

from outcite_duplicate_detecting_spark.plans.pipeline import PipelineConfig, dedup_pipeline
from outcite_duplicate_detecting_spark.sources.pages import CorpusSpec, generate_pages

SPEC = CorpusSpec(
    n_singletons=120,
    n_exact_clusters=12,
    n_near_clusters=12,
    n_fuzzy_clusters=12,
    n_substring_clusters=12,
    n_hard_negative_pairs=10,
    seed=11,
)


@pytest.fixture(scope="module")
def run(spark, tmp_path_factory):
    pages, gold = generate_pages(spark, SPEC)
    workdir = str(tmp_path_factory.mktemp("pipeline"))
    out = dedup_pipeline(spark, pages, PipelineConfig(), workdir=workdir,
                         input_fingerprint="corpus-11", run_id="r1")
    return pages, gold, out.cache(), workdir


def pair_sets(rows, label_key):
    by_label = {}
    for url, label in rows:
        by_label.setdefault(label, []).append(url)
    pairs = set()
    for members in by_label.values():
        for a, b in itertools.combinations(sorted(members), 2):
            pairs.add((a, b))
    return pairs


def test_pipeline_recall_by_kind(spark, run):
    pages, gold, out, _ = run
    got_rows = [(r["url"], r["cluster_id"]) for r in out.collect()]
    got_pairs = pair_sets(got_rows, "cluster_id")

    g = gold.collect()
    kind_by_url = {r["url"]: r["dup_kind"] for r in g}
    gold_pairs = pair_sets([(r["url"], r["gold_cluster_id"]) for r in g], "gold")

    by_kind = {}
    for a, b in gold_pairs:
        k = kind_by_url[a]
        by_kind.setdefault(k, set()).add((a, b))
    for kind, pairs in sorted(by_kind.items()):
        if kind == "singleton":
            continue
        hit = len(pairs & got_pairs)
        recall = hit / len(pairs)
        assert recall >= 0.99, f"{kind}: recall {recall:.3f} ({hit}/{len(pairs)})"


def test_pipeline_precision_floor(spark, run):
    """Hard negatives (J ≤ 0.5 planted) must not merge."""
    pages, gold, out, _ = run
    got = {r["url"]: r["cluster_id"] for r in out.collect()}
    gold_rows = gold.collect()
    label = {r["url"]: r["gold_cluster_id"] for r in gold_rows}
    kind = {r["url"]: r["dup_kind"] for r in gold_rows}
    # pairwise precision over all predicted pairs
    pred_pairs = pair_sets(got.items(), "cluster")
    wrong = [(a, b) for a, b in pred_pairs if label[a] != label[b]]
    precision = 1 - len(wrong) / max(len(pred_pairs), 1)
    assert precision >= 0.97, f"precision {precision:.3f}; first wrong: {wrong[:5]}"


def test_text_byte_identity(spark, run):
    """north_rule invariant: extracted text byte-identical per url."""
    pages, gold, out, _ = run
    pre = pages.select("url", F.sha2("text", 256).alias("pre_sha"))
    post = out.join(pages, "url").select("url", F.sha2("text", 256).alias("post_sha"))
    diff = pre.join(post, "url").where(F.col("pre_sha") != F.col("post_sha"))
    assert diff.count() == 0
    assert out.count() == pages.count()


def test_pipeline_resume_identical(spark, run, tmp_path):
    """Second run over the same workdir resumes from checkpoints and
    returns identical assignments."""
    pages, gold, out, workdir = run
    again = dedup_pipeline(spark, pages, PipelineConfig(), workdir=workdir,
                           input_fingerprint="corpus-11", run_id="r2")
    a = {(r["url"], r["cluster_id"]) for r in out.collect()}
    b = {(r["url"], r["cluster_id"]) for r in again.collect()}
    assert a == b
    # manifests exist for every stage
    stages = {"collapse", "membership", "sign", "minhash", "simhash", "substring",
              "components", "expand"}
    assert stages <= set(os.listdir(workdir))


def test_pipeline_simhash_config_covers_hamming_tail(spark):
    """The SHIPPED pipeline simhash config (16-bit bands + 1-bit
    multi-probe) must be pigeonhole-EXACT over the full hamming ≤7 radius.
    Pairs in the 4..7 band are typically low-Jaccard — outside the MinHash
    regime — so without multi-probe they would only be caught
    probabilistically. Plants pairs at exactly hamming 4, 5, 6, 7."""
    import random

    from outcite_duplicate_detecting_spark.operators.simhash import simhash_verified_pairs

    cfg = PipelineConfig().simhash
    assert cfg.multi_probe and cfg.bits_per_band == 16
    assert cfg.exactness_holds()

    def i64(u):
        return u - 2**64 if u >= 2**63 else u

    rng = random.Random(99)
    rows, want, next_id = [], set(), 0
    for k in range(4, 8):
        for _ in range(8):
            sig = rng.getrandbits(64)
            flip = sum(1 << b for b in rng.sample(range(64), k))
            rows.append((next_id, i64(sig)))
            rows.append((next_id + 1, i64(sig ^ flip)))
            want.add((next_id, next_id + 1))
            next_id += 2
    signed = spark.createDataFrame(rows, "id long, simhash long")
    verified, _drops = simhash_verified_pairs(signed, cfg, id_col="id")
    got = {(r["id1"], r["id2"]) for r in verified.collect()}
    assert want <= got  # every planted 4..7 pair caught — exact tail coverage


def test_pipeline_id_bits_128_matches_64_clustering(spark, run, tmp_path):
    """id_bits=128 (collision-safe 16-byte binary ids for 10^11+ corpora)
    must produce the same PARTITION of urls into clusters as the long-id
    default (ids are internal — only the grouping is semantics). This is
    the pytest pin that keeps the 128-bit path one flag away."""
    pages, gold, out, _ = run
    cfg = PipelineConfig(id_bits=128)
    out128 = dedup_pipeline(spark, pages, cfg, workdir=str(tmp_path / "id128"),
                            input_fingerprint="corpus-11", run_id="r128")
    assert dict(out128.dtypes)["cluster_id"] == "binary"
    assert dict(out.dtypes)["cluster_id"] == "bigint"
    def cid(r):  # binary ids collect as (unhashable) bytearray
        v = r["cluster_id"]
        return bytes(v) if isinstance(v, (bytes, bytearray)) else v

    p128 = pair_sets([(r["url"], cid(r)) for r in out128.collect()], "c")
    p64 = pair_sets([(r["url"], r["cluster_id"]) for r in out.collect()], "c")
    assert p128 == p64


def test_pipeline_detects_config_change(spark, run):
    """Changing the detector config must invalidate the checkpoint, not
    silently reuse it."""
    pages, gold, out, workdir = run
    cfg = PipelineConfig()
    cfg.minhash.threshold = 0.95
    out2 = dedup_pipeline(spark, pages, cfg, workdir=workdir,
                          input_fingerprint="corpus-11", run_id="r3")
    # with a 0.95 threshold some near pairs drop — cluster count changes
    assert out2.select("cluster_id").distinct().count() >= out.select("cluster_id").distinct().count()
