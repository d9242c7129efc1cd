"""Replay of the pipeline's operator sequence, one public call per layer.

Each call runs under its own Spark job group and span, and its output is
written to parquet inside the span, as the pipeline's own stages do. The
inputs are the checkpoints a traced pipeline call left in its workdir
(collapse, membership, expand), so the replay signs and joins exactly the
representatives the pipeline did. Counts (candidates, drops, edges) are
taken after each span under a separate ``count.*`` job group, so they add
no time or Spark work to the layer they describe.
"""

from __future__ import annotations

import os

import numpy as np

from measure import job_group


def _materialize(spark, df, path: str):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _drops(spark, drops, name: str) -> tuple[float, float]:
    from pyspark.sql import functions as F

    with job_group(spark, f"count.{name}"):
        row = drops.agg(F.count("*").alias("k"), F.sum("bucket_size").alias("p")).first()
    return float(row["k"]), float(row["p"] or 0)


def simhash_probe_rows(sigs: np.ndarray, cfg) -> float:
    """Probe-join rows the fused SimHash join feeds to its Hamming filter:
    for every doc, band and probe variant (the band value, plus each 1-bit
    flip under multi-probe), the members of the matching kept bucket other
    than the doc itself. Bucket sizes come from the plain band postings,
    as the cap does."""
    w = cfg.bits_per_band
    u = sigs.astype(np.uint64)
    flips = [0] + ([1 << j for j in range(w)] if cfg.multi_probe else [])
    total = 0
    for b in range(cfg.bands):
        band = ((u >> np.uint64(b * w)) & np.uint64((1 << w) - 1)).astype(np.int64)
        keys, sizes = np.unique(band, return_counts=True)
        if cfg.max_bucket_size is not None:
            keep = sizes <= cfg.max_bucket_size
            keys, sizes = keys[keep], sizes[keep]
        for f in flips:
            probe = band ^ f
            pos = np.searchsorted(keys, probe).clip(max=len(keys) - 1)
            hit = keys[pos] == probe
            total += int(sizes[pos][hit].sum()) - (int(hit.sum()) if f == 0 else 0)
    return float(total)


def replay(spark, cfg, workdir: str, scratch: str, spans) -> dict[str, float]:
    from pyspark.sql import functions as F

    from outcite_duplicate_detecting_spark.operators.components import (
        connected_components,
    )
    from outcite_duplicate_detecting_spark.operators.joins import band_candidate_pairs
    from outcite_duplicate_detecting_spark.operators.minhash import (
        minhash_candidate_pairs,
        verify_jaccard,
    )
    from outcite_duplicate_detecting_spark.operators.signatures import (
        add_all_signatures,
    )
    from outcite_duplicate_detecting_spark.operators.simhash import (
        simhash_verified_pairs,
    )
    from outcite_duplicate_detecting_spark.operators.substring import containment_verify
    from outcite_duplicate_detecting_spark.plans.writeback import (
        build_duplicates_table,
        writeback_canonical,
    )

    out = os.path.join(scratch, "replay")
    read = lambda stage: spark.read.parquet(os.path.join(workdir, stage, "data"))  # noqa: E731
    collapsed, membership, assignments = read("collapse"), read("membership"), read("expand")
    counts: dict[str, float] = {}
    n_parts = max(spark.sparkContext.defaultParallelism * 2, 8)
    reps = (
        collapsed.select("rep_id", "text")
        .where(F.length("text") >= cfg.min_text_chars)
        .repartition(n_parts, "rep_id")
    )

    with spans.span("replay"):
        with spans.span("sign"), job_group(spark, "sign"):
            signed = _materialize(
                spark,
                add_all_signatures(reps, cfg.minhash, cfg.simhash, cfg.substring).select(
                    "rep_id",
                    F.length("text").alias("n_chars"),
                    "shingle_hashes",
                    "minhash_sig",
                    "simhash",
                    "fingerprints",
                ),
                os.path.join(out, "sign"),
            )
        with job_group(spark, "count.sign"):
            counts["sign.rows"] = float(signed.count())

        mh = signed.select(F.col("rep_id").alias("id"), "shingle_hashes", "minhash_sig")
        with spans.span("minhash"), job_group(spark, "minhash"):
            cands = minhash_candidate_pairs(mh, cfg.minhash, id_col="id")
            verified = verify_jaccard(cands.pairs, mh.select("id", "shingle_hashes"), cfg.minhash)
            mh_pairs = _materialize(spark, verified, os.path.join(out, "minhash"))
        with job_group(spark, "count.minhash"):
            counts["minhash.candidates"] = float(cands.pairs.count())
            counts["minhash.verified"] = float(mh_pairs.count())
        counts["minhash.dropped_keys"], counts["minhash.dropped_postings"] = _drops(
            spark, cands.drops, "minhash"
        )

        sh = signed.select(F.col("rep_id").alias("id"), "simhash")
        with spans.span("simhash"), job_group(spark, "simhash"):
            verified, sh_drops = simhash_verified_pairs(sh, cfg.simhash, id_col="id")
            sh_pairs = _materialize(spark, verified, os.path.join(out, "simhash"))
        with job_group(spark, "count.simhash"):
            sigs = np.array([r[0] for r in sh.select("simhash").collect()], dtype=np.int64)
            counts["simhash.verified"] = float(sh_pairs.count())
        counts["simhash.candidates"] = simhash_probe_rows(sigs, cfg.simhash)
        counts["simhash.dropped_keys"], counts["simhash.dropped_postings"] = _drops(
            spark, sh_drops, "simhash"
        )

        with spans.span("substring"), job_group(spark, "substring"):
            fps = signed.select(F.col("rep_id").alias("id"), F.explode("fingerprints").alias("fp"))
            minfp = (
                signed.where(F.col("n_chars") >= cfg.substring.min_len)
                .select(F.col("rep_id").alias("id"), F.array_min("fingerprints").alias("fp"))
                .where(F.col("fp").isNotNull())
            )
            sub = band_candidate_pairs(
                fps,
                key_cols=["fp"],
                id_col="id",
                max_bucket_size=cfg.substring.max_fingerprint_df,
                probe_left=minfp,
                probe_unique=True,
            )
            base = collapsed.select(F.col("rep_id").alias("id"), "text").where(
                F.length("text") >= cfg.min_text_chars
            )
            sub_pairs = _materialize(
                spark,
                containment_verify(sub.pairs, base, cfg.substring.min_len),
                os.path.join(out, "substring"),
            )
        with job_group(spark, "count.substring"):
            counts["substring.candidates"] = float(sub.pairs.distinct().count())
            counts["substring.verified"] = float(sub_pairs.count())
        counts["substring.dropped_keys"], counts["substring.dropped_postings"] = _drops(
            spark, sub.drops, "substring"
        )

        edges = (
            mh_pairs.select("id1", "id2")
            .unionByName(sh_pairs.select("id1", "id2"))
            .unionByName(
                sub_pairs.select(F.col("inner_id").alias("id1"), F.col("outer_id").alias("id2"))
            )
        )
        with spans.span("cc"), job_group(spark, "cc"):
            labels = connected_components(
                edges, src="id1", dst="id2", nodes=signed.select(F.col("rep_id").alias("id"))
            )
            _materialize(spark, labels, os.path.join(out, "components"))
        with job_group(spark, "count.cc"):
            counts["cc.edges"] = float(edges.count())

        docs = membership.join(collapsed.select("rep_id", "text"), "rep_id")
        with spans.span("writeback"), job_group(spark, "writeback"):
            dups = _materialize(
                spark,
                build_duplicates_table(
                    assignments.where("is_duplicate"), docs.select("doc_id", "text")
                ),
                os.path.join(out, "duplicates"),
            )
            pages = _materialize(
                spark,
                writeback_canonical(docs, assignments, dups),
                os.path.join(out, "writeback"),
            )
        with job_group(spark, "count.writeback"):
            counts["writeback.rows"] = float(pages.count())
    return counts
