"""End-to-end near-duplicate clustering pipeline over ``pages``.

The Spark re-founding of the reference's full DUPLICATE_DETECTING.sh run
(/root/reference/code/DUPLICATE_DETECTING.sh:16-59 — download → normalize →
block → cluster → verify → canonicalize → writeback), collapsed into one
declarative dataflow (SURVEY.md §3.1):

    pages(url, warc_ts, html, text, lang)
      └─ stage ids:        (url, warc_ts) → 64-bit doc id, text untouched
      └─ stage collapse:   byte-identical texts → one representative
                           (reference analogue: SHA-1 repID freq upsert)
      └─ stage sign:       ONE Arrow pass → minhash sig + shingle hashes +
                           simhash + winnow fingerprints per representative
      └─ stage minhash:    LSH band join + exact-Jaccard verify
      └─ stage simhash:    byte-block join + Hamming-≤k verify
      └─ stage substring:  fingerprint join + containment verify
      └─ stage components: large-star/small-star CC over the edge union
      └─ stage expand:     labels back onto every url via the exact-dup
                           membership; cluster_id = min doc-hash in cluster

Every stage checkpoints through plans/manifest.run_stage (per-partition
lineage + counters; resume on matching fingerprints). The per-row invariant
holds by construction: ``text`` is never rewritten, and the output joins
labels onto the original rows.

Scale design (10^12 docs, 1000 executors):
- the only wide operations are the three candidate joins and CC; everything
  before them is map-side (signatures are per-row pandas UDFs),
- exact-dup collapse runs FIRST so web-scale boilerplate/exact reposts never
  reach a pairwise join as hot bands,
- candidate joins carry bucket caps with drop counters (operators/joins.py),
- CC rounds localCheckpoint to keep plans flat; edges are a tiny fraction
  of corpus size after verification,
- doc ids are xxhash64(url, warc_ts) longs by default;
  ``PipelineConfig(id_bits=128)`` switches every id to a 16-byte binary
  key of two differently-salted xxhash64 values — collision-free in
  practice at 10^12 urls, where 64-bit ids expect ~10^4 birthday
  collisions (each a silent over-merge). The whole dataflow is
  id-type-agnostic, so the flag is the only change; the flat key measured
  at parity with longs (r6, 400k docs / 8 cores).
"""

from __future__ import annotations

import hashlib
import json
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.minhash import MinHashConfig
from ..operators.simhash import SimHashConfig
from ..operators.substring import SubstringConfig
from .manifest import run_stage
from .writeback import build_duplicates_table, writeback_canonical


@dataclass
class PipelineConfig:
    # 64 perms / 16 bands (r=4): candidate-catch probability at the 0.8
    # Jaccard threshold is 1-(1-0.8^4)^16 ≈ 0.9998 (≈1.0 above 0.9), while
    # signature compute, signature bytes, and band-posting rows all HALVE
    # vs the standalone 128/32 default — the pipeline's verify step is
    # exact, so this only trades candidate recall, never precision.
    minhash: MinHashConfig = field(
        default_factory=lambda: MinHashConfig(num_perm=64, bands=16)
    )
    # 16-bit simhash bands + 1-bit multi-probe: THE web-scale setting.
    # Band keys collide at 1/65536 (~256× fewer random candidates than
    # 8-bit blocks) while multi-probe restores pigeonhole EXACTNESS for the
    # full hamming ≤ 7 radius (k ≤ 2·bands−1; plain 16-bit banding is exact
    # only to k ≤ 3 and would leave the 4..7 tail riding on MinHash
    # overlap). Posting volume: 4 bands × 17 probe variants ≈ 68 rows/doc
    # on the query side vs 8 exact-band rows — still ~30× fewer candidate
    # JOIN hits than 8-bit blocks at web scale. Reference-parity 8×8
    # (exact ≤ 7) remains the SimHashConfig() default for standalone use.
    simhash: SimHashConfig = field(
        default_factory=lambda: SimHashConfig(bits_per_band=16, multi_probe=True)
    )
    substring: SubstringConfig = field(default_factory=SubstringConfig)
    min_text_chars: int = 1  # drop empty texts from pairwise detectors
    # 64 (default): single xxhash64 long ids. 128: a 16-byte binary key of
    # two independently-salted xxhash64 values — collision-free in practice
    # at 10^12 urls, where 64-bit ids expect ~10^4 birthday collisions (each
    # a silent cluster over-merge). CC, writeback and expand are
    # id-type-agnostic; clustering parity with 64-bit ids is pytest-pinned.
    # The r6 interleaved A/B at 400k docs / 8 cores (min of 2 per mode)
    # measured longs 137.4 s vs binary 134.4 s — parity within window
    # noise, since one flat comparable value keeps the radix-sort/codegen
    # fast paths. Set id_bits=128 for 10^11+ deployments where the birthday
    # bound bites.
    id_bits: int = 64

    def fingerprint(self) -> str:
        return hashlib.sha1(
            json.dumps(asdict(self), sort_keys=True, default=str).encode()
        ).hexdigest()


def _doc_id_expr(cfg: PipelineConfig, id_cols: list[str]):
    """Deterministic doc id from the natural key. 128-bit mode pairs two
    xxhash64 values under different salts (Spark's xxhash64 seed is fixed,
    so the salt literal supplies the second hash family) in a 16-byte
    binary key — big-endian two's-complement halves via hex/unhex (ANSI
    mode forbids a direct long→binary cast), unsigned-lexicographic
    comparable, one flat value through every downstream join/sort/group
    (CC included — ids only ever need equality and a deterministic total
    order, not numeric meaning)."""
    if cfg.id_bits == 128:
        h1 = F.xxhash64(*id_cols)
        h2 = F.xxhash64(F.lit("docid-salt-2"), *id_cols)
        pack = lambda h: F.lpad(F.hex(h), 16, "0")  # noqa: E731
        return F.unhex(F.concat(pack(h1), pack(h2))).alias("doc_id")
    return F.xxhash64(*id_cols).alias("doc_id")


def dedup_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    workdir: str | None = None,
    input_fingerprint: str | None = None,
    run_id: str = "run",
) -> DataFrame:
    """Cluster assignments: (url, doc_id, cluster_id, is_duplicate).

    ``cluster_id`` is the minimum doc_id of the connected component under
    the union of (exact, minhash, simhash, substring) duplicate relations.
    ``input_fingerprint``: pass a cheap stable token (e.g. an Iceberg
    snapshot id or source path + mtime) to enable cross-run resume; when
    omitted, stages still checkpoint but are keyed to this run only.
    """
    cfg = cfg or PipelineConfig()
    workdir = workdir or tempfile.mkdtemp(prefix="dedup_pipeline_")
    # no caller-supplied fingerprint → a per-invocation nonce, so a rerun
    # with the same workdir/run_id over changed input never silently
    # resumes stale checkpoints (resume requires an explicit fingerprint)
    in_fp = input_fingerprint or f"volatile-{run_id}-{uuid.uuid4().hex}"
    cfg_fp = cfg.fingerprint()

    def stage(name: str, compute) -> tuple[DataFrame, bool]:
        return run_stage(spark, workdir, name, in_fp, cfg_fp, compute, run_id=run_id)

    # --- collapse: byte-identical texts → one representative. This is the
    # ONLY stage that shuffles the text column (the reference analogue:
    # SHA-1 repID freq upsert). doc_id hashes (url, warc_ts) when the
    # timestamp exists so recrawls of the same url stay distinct rows.
    id_cols = ["url", "warc_ts"] if "warc_ts" in pages.columns else ["url"]
    doc_id = _doc_id_expr(cfg, id_cols)
    text_sha = F.sha2(F.col("text"), 256).alias("text_sha")

    def _collapse() -> DataFrame:
        return (
            pages.select(doc_id, F.col("text"), text_sha)
            .groupBy("text_sha")
            .agg(
                F.min("doc_id").alias("rep_id"),
                F.first("text").alias("text"),
                F.count("*").alias("freq"),
            )
        )

    # --- membership: (doc_id, url, rep_id), one row per input row.
    # rep_id is derived directly as min(doc_id) over the content digest (a
    # window over text_sha) — the same definition collapse uses — instead
    # of joining against the collapse output. That makes membership
    # INDEPENDENT of the collapse stage, so its side thread overlaps
    # collapse + sign from t=0 rather than only the post-collapse phase
    # (guide §2.6 overlap-independent-jobs), and it drops the
    # content-digest join outright. text never shuffles here. The
    # dropDuplicates enforces doc_id uniqueness for the final label join
    # (repeated (url, warc_ts) input rows or a 64-bit hash collision would
    # otherwise fan the join out and break one-label-per-input-row); it
    # rides on ~50-byte rows, not the corpus.
    def _membership() -> DataFrame:
        from pyspark.sql import Window

        keyed = pages.select(doc_id, F.col("url"), text_sha)
        w = Window.partitionBy("text_sha")
        return (
            keyed.withColumn("rep_id", F.min("doc_id").over(w))
            .dropDuplicates(["doc_id"])
            .select("doc_id", "url", "rep_id")
        )

    # membership is not consumed until expand — run it on a side thread so
    # it overlaps the collapse/sign/detector phase instead of serializing
    # the critical path (Spark schedules jobs from multiple driver threads
    # concurrently). The pool is shut down in the finally below: without
    # it, a detector/CC failure would leave the concurrent membership job
    # running through the unwind and mask the real exception.
    membership_pool = ThreadPoolExecutor(max_workers=1)
    membership_fut = membership_pool.submit(stage, "membership", _membership)
    try:
        collapsed, _ = stage("collapse", _collapse)
        # detectors are UDF-bound, not byte-bound: spread them over the cores
        # rather than letting AQE coalesce the (small-on-disk) checkpoint files
        n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
        reps = (
            collapsed.select("rep_id", "text", "freq")
            .where(F.length("text") >= cfg.min_text_chars)
            .repartition(n_parts, "rep_id")
        )

        # --- sign: ONE Arrow pass computes every detector's signature
        # (operators/signatures.py): one text transfer, one shingling, one
        # checkpoint instead of three per-detector UDF chains. The parquet
        # stage checkpoint then serves each detector via column pruning.
        from ..operators.minhash import minhash_candidate_pairs, verify_jaccard
        from ..operators.signatures import add_all_signatures
        from ..operators.simhash import simhash_verified_pairs
        from ..operators.substring import containment_verify, min_fingerprint_candidates

        def _sign() -> DataFrame:
            # n_chars rides along (bytes-cheap) so the substring stage can
            # prune its min-fp probe side to docs long enough to be an
            # inner (r5 advisory: the probe previously posted every doc)
            return add_all_signatures(
                reps.select("rep_id", "text"), cfg.minhash, cfg.simhash, cfg.substring
            ).select(
                "rep_id",
                F.length("text").alias("n_chars"),
                "shingle_hashes",
                "minhash_sig",
                "simhash",
                "fingerprints",
            )

        signed, _ = stage("sign", _sign)

        # --- candidate joins + verification, one per detector; these are
        # independent given `signed`, so their stage jobs run concurrently —
        # one detector's serialized tail (AQE re-plans, driver round-trips,
        # small final stages) overlaps another's join work. This is what lifts
        # cluster utilization (and N→4N scaling).
        def _minhash() -> DataFrame:
            s = signed.select(
                F.col("rep_id").alias("id"), "shingle_hashes", "minhash_sig"
            )
            cands = minhash_candidate_pairs(s, cfg.minhash, id_col="id")
            return verify_jaccard(
                cands.pairs, s.select("id", "shingle_hashes"), cfg.minhash
            )

        def _simhash() -> DataFrame:
            # fused join-verify: Hamming filter runs inside the band join's
            # codegen — no candidate materialization (critical at multi-probe
            # posting volumes)
            s = signed.select(F.col("rep_id").alias("id"), "simhash")
            verified, _drops = simhash_verified_pairs(s, cfg.simhash, id_col="id")
            return verified

        def _substring() -> DataFrame:
            cands = min_fingerprint_candidates(
                signed.select(F.col("rep_id").alias("id"), "n_chars", "fingerprints"),
                cfg.substring,
            )
            # verify base reads straight off `collapsed` (the checkpoint /
            # materialized block), NOT `reps`: reps' repartition is a full
            # text shuffle that only exists to spread the sign UDF, and
            # containment_verify semi-join-prunes to candidate ids before
            # touching text anyway — re-deriving reps here would re-run
            # that corpus-wide shuffle a second time
            base = (
                collapsed.select(F.col("rep_id").alias("id"), "text")
                .where(F.length("text") >= cfg.min_text_chars)
            )
            return containment_verify(cands.pairs, base, cfg.substring.min_len)

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(stage, name, compute)
                for name, compute in (
                    ("minhash", _minhash), ("simhash", _simhash), ("substring", _substring)
                )
            ]
            (mh_pairs, _), (sh_pairs, _), (sub_pairs, _) = [f.result() for f in futures]

        def _components() -> DataFrame:
            # node set from `signed` (same rep rows as reps, by construction):
            # the sign checkpoint serves the one thin column via pruning,
            # where `reps` would re-read collapse text for the length filter
            # and re-run its repartition shuffle just to list ids
            node_ids = signed.select(F.col("rep_id").alias("id"))
            edges = (
                mh_pairs.select("id1", "id2")
                .unionByName(sh_pairs.select("id1", "id2"))
                .unionByName(
                    sub_pairs.select(
                        F.col("inner_id").alias("id1"), F.col("outer_id").alias("id2")
                    )
                )
            )
            return connected_components(
                edges, src="id1", dst="id2", nodes=node_ids
            )

        labels, _ = stage("components", _components)
        membership, _ = membership_fut.result()
    finally:
        membership_pool.shutdown(wait=False, cancel_futures=True)

    # --- expand back to every url through the exact-dup membership
    def _expand() -> DataFrame:
        rep_labels = labels.select(
            F.col("id").alias("rep_id"), F.col("component").alias("cluster_id")
        )
        out = membership.join(rep_labels, "rep_id", "left").select(
            "url",
            "doc_id",
            F.coalesce("cluster_id", F.col("rep_id")).alias("cluster_id"),
        )
        cluster_sizes = out.groupBy("cluster_id").agg(F.count("*").alias("_sz"))
        return out.join(cluster_sizes, "cluster_id").select(
            "url", "doc_id", "cluster_id", (F.col("_sz") > 1).alias("is_duplicate")
        )

    assignments, _ = stage("expand", _expand)
    return assignments


@dataclass
class PipelineOutputs:
    assignments: DataFrame  # (url, doc_id, cluster_id, is_duplicate)
    duplicates: DataFrame  # one canonical record per multi-member cluster
    canonical_pages: DataFrame  # stage-5 writeback view of the input


def dedup_pipeline_full(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
    workdir: str | None = None,
    input_fingerprint: str | None = None,
    run_id: str = "run",
) -> PipelineOutputs:
    """The complete reference flow: clustering (stages B1–3 analogue via
    ``dedup_pipeline``) plus canonicalization + writeback (reference stages
    4–5, /root/reference/code/4_index_duplicates.py:188-269 and
    5_update_references.py:56-116), each a resumable checkpointed stage.

    ``canonical_pages`` replaces each duplicate member's ``text`` with the
    cluster-canonical text and keeps the member's own bytes as
    ``text_original`` — the byte-identity invariant of the *clustering*
    output thus stays intact (``assignments`` never rewrites text; the
    rewrite here is the explicitly-opted stage-5 semantics, original
    preserved alongside).
    """
    cfg = cfg or PipelineConfig()
    workdir = workdir or tempfile.mkdtemp(prefix="dedup_pipeline_")
    in_fp = input_fingerprint or f"volatile-{run_id}-{uuid.uuid4().hex}"
    assignments = dedup_pipeline(
        spark, pages, cfg, workdir=workdir, input_fingerprint=in_fp, run_id=run_id
    )
    cfg_fp = cfg.fingerprint()

    def stage(name: str, compute) -> tuple[DataFrame, bool]:
        return run_stage(spark, workdir, name, in_fp, cfg_fp, compute, run_id=run_id)

    id_cols = ["url", "warc_ts"] if "warc_ts" in pages.columns else ["url"]
    docs = pages.withColumn(
        "doc_id", _doc_id_expr(cfg, id_cols)
    ).dropDuplicates(["doc_id"])

    duplicates, _ = stage(
        "duplicates",
        lambda: build_duplicates_table(
            assignments.where("is_duplicate"), docs.select("doc_id", "text")
        ),
    )
    canonical_pages, _ = stage(
        "writeback",
        lambda: writeback_canonical(docs, assignments, duplicates),
    )
    return PipelineOutputs(assignments, duplicates, canonical_pages)
