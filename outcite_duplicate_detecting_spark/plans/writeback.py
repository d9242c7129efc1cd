"""Canonical duplicates table + MERGE-style writeback (reference stages 4–5).

Reference flow:
- stage 4 builds one merged canonical record per duplicate group and bulk
  indexes it (/root/reference/code/4_index_duplicates.py:188-269),
- stage 5 scrolls the source docs and REPLACES each duplicate member's
  fields with the canonical values, preserving the first-seen original as
  ``<field>_original`` and setting bookkeeping fields
  (/root/reference/code/5_update_references.py:56-116),
- the bulk-update analogue elsewhere is ES ``streaming_bulk`` partial-doc
  updates (/root/reference/code/0_update_blockIDs.py:116-125) and the
  server-side copy ``UPDATE ... SET duplicate_id2 = cluster_id``
  (/root/reference/code/M_clusterID2duplicateID.sh:3-17).

Spark mapping: the duplicates table is one ``groupBy(cluster)`` aggregation;
the writeback is a broadcast-or-shuffle left join of the source table with
the duplicates table (canonical values fan out to members); the upsert sink
is Iceberg ``MERGE INTO`` on a real catalog, re-expressed here over the
parquet shim as read → keyed merge → atomic directory swap (same
semantics, no runtime jar needed). All of it is plain DataFrame code —
no UDFs, whole-stage codegen end to end.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import parquet_row_count


def build_duplicates_table(
    assignments: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    text_col: str = "text",
) -> DataFrame:
    """One canonical record per multi-member cluster.

    Output: (cluster_id, canonical_id, n_members, member_ids, text) where
    the canonical member carries the longest text (ties → smallest id) —
    the web-page keep rule standing in for the reference's per-field
    merge (4_index_duplicates.py:188-254; the field-coupled votes live in
    operators/canonicalize.py and plug in per-column here).
    Single groupBy: max_by picks the canonical text in the same pass.
    """
    joined = assignments.select(cluster_col, id_col).join(
        docs.select(id_col, text_col), id_col
    )
    # min_by over (−length, id): longest text wins, ties → smallest id.
    # Ascending id comparison works for ANY orderable id type (long ids,
    # 128-bit binary ids) — a negated-id max_by would not.
    order_key = F.struct(
        (-F.length(text_col)).alias("l"), F.col(id_col).alias("i")
    )
    return (
        joined.groupBy(cluster_col)
        .agg(
            F.count("*").alias("n_members"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
            F.min_by(F.col(id_col), order_key).alias("canonical_id"),
            F.min_by(F.col(text_col), order_key).alias(text_col),
        )
        .where(F.col("n_members") > 1)
        .select(cluster_col, "canonical_id", "n_members", "member_ids", text_col)
    )


def writeback_canonical(
    docs: DataFrame,
    assignments: DataFrame,
    duplicates: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    fields: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Reference stage-5 semantics over the whole source table.

    Every member of a multi-row cluster gets the canonical ``fields``
    values; its own prior value is preserved as ``<field>_original``;
    non-duplicate rows pass through with NULL ``<field>_original`` /
    cluster bookkeeping. Adds (cluster_id, duplicate_of, is_canonical,
    has_duplicate_ids) — the has_*/num_* flag analogue
    (5_update_references.py:103-114).
    """
    dup_cols = [F.col(f).alias(f"_canon_{f}") for f in fields]
    dups = duplicates.select(
        cluster_col, F.col("canonical_id"), *dup_cols
    )
    assigned = docs.join(
        assignments.select(id_col, cluster_col), id_col, "left"
    ).join(dups, cluster_col, "left")

    out_cols = [docs[c] for c in docs.columns if c not in fields]
    for f in fields:
        canon = F.col(f"_canon_{f}")
        out_cols += [
            F.when(canon.isNotNull(), canon).otherwise(F.col(f)).alias(f),
            F.when(canon.isNotNull(), F.col(f)).alias(f"{f}_original"),
        ]
    out_cols += [
        F.col(cluster_col),
        F.when(F.col("canonical_id").isNotNull(), F.col("canonical_id")).alias(
            "duplicate_of"
        ),
        (F.col("canonical_id") == F.col(id_col)).alias("is_canonical"),
        F.col("canonical_id").isNotNull().alias("has_duplicate_ids"),
    ]
    return assigned.select(*out_cols)


def merge_upsert_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_cols: list[str],
    update_cols: list[str] | None = None,
) -> int:
    """MERGE INTO semantics over the parquet table shim.

    WHEN MATCHED → overwrite ``update_cols`` (default: every non-key
    column of ``updates``); WHEN NOT MATCHED → insert. Columns the target
    has but updates lacks are preserved; update rows must carry every
    target column or the missing ones are NULL on insert. The rewrite is
    atomic: write to a sibling temp dir, then swap — a crash never leaves
    a half-written target. On an Iceberg catalog this function is one
    ``MERGE INTO`` statement; the shim keeps identical semantics for the
    sandbox. Returns the resulting row count.
    """
    staging = f"{target_path}.__merge__{uuid.uuid4().hex[:8]}"
    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
        upd_cols = update_cols or [c for c in updates.columns if c not in key_cols]
        u = updates.select(
            *[F.col(k).alias(f"__k_{k}") for k in key_cols],
            *[F.col(c).alias(f"__u_{c}") for c in upd_cols],
            F.lit(True).alias("__matched"),
        )
        merged_existing = target.join(
            u,
            on=[target[k] == u[f"__k_{k}"] for k in key_cols],
            how="left",
        )
        out_cols = []
        for c in target.columns:
            if c in upd_cols:
                out_cols.append(
                    F.when(F.col("__matched"), F.col(f"__u_{c}"))
                    .otherwise(target[c])
                    .alias(c)
                )
            else:
                out_cols.append(target[c].alias(c))
        updated = merged_existing.select(*out_cols)
        inserts = updates.join(
            target.select(*key_cols), on=key_cols, how="left_anti"
        )
        # align insert schema to the target's columns (missing → NULL)
        insert_cols = [
            (F.col(c) if c in inserts.columns else F.lit(None)).alias(c)
            for c in target.columns
        ]
        result = updated.unionByName(inserts.select(*insert_cols))
    else:
        result = updates
    result.write.mode("overwrite").parquet(staging)
    n = parquet_row_count(staging)
    if os.path.exists(target_path):
        shutil.rmtree(target_path)
    os.rename(staging, target_path)
    return n


def sql_update_copy_column(
    spark: SparkSession, target_path: str, src_col: str, dst_col: str
) -> int:
    """Server-side column copy — ``UPDATE tbl SET dst = src`` (reference
    M_clusterID2duplicateID.sh:3-17 does this with _update_by_query).
    Whole-table rewrite on the parquet shim; one SQL UPDATE on Iceberg."""
    df = spark.read.parquet(target_path)
    out = df.withColumn(dst_col, F.col(src_col))
    staging = f"{target_path}.__upd__{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(staging)
    n = parquet_row_count(staging)
    shutil.rmtree(target_path)
    os.rename(staging, target_path)
    return n

