"""Test-table loaders.

The driver-generated parquet tables live at /root/testdata/sf*/ (TPC-H-ish
star schema + events/documents/embeddings, see TESTDATA.md) and are read
as plain parquet paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; column pruning/pushdown applies downstream."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the ``documents`` table to the pipeline's ``pages`` input shape
    (url, warc_ts, html, text, lang — BASELINE.json input_hint) so the
    end-to-end pipeline can run against driver testdata."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("synthetic://doc/"), F.col("doc_id")).alias("url"),
        (F.lit("2020-01-01 00:00:00").cast("timestamp") + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
