"""Incremental / streaming ingestion.

The reference's incrementality is flag-based rescanning
(has_*/processed_* + recheck — /root/reference/code/0_update_blockIDs.py:
34-35,65-66; periodic index refresh :121-123). Spark mapping
(SURVEY.md §2.10):

- ``incremental_new_rows``: batch-incremental — anti-join the current
  snapshot against the processed manifest (exactly the must_not-flag scan,
  but set-based instead of per-doc flags).
- ``stream_signatures``: Structured Streaming — readStream over the input
  directory with ``Trigger.AvailableNow``, per-row signature computation
  (the same signing pass as batch, operators/signatures.py — code reuse
  is total since signatures are map-side), ``foreachBatch`` writing
  signature snapshots. Candidate joins and CC stay batch jobs over the
  accumulated signature table: pair generation is a set operation, not a
  per-event one — the standard lambda-ish split for dedup at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.minhash import MinHashConfig
from ..operators.signatures import add_all_signatures


def incremental_new_rows(
    snapshot: DataFrame, processed_manifest: DataFrame, key: str = "url"
) -> DataFrame:
    """Rows of ``snapshot`` whose key is not in the manifest (left_anti)."""
    return snapshot.join(processed_manifest.select(key), key, "left_anti")


def stream_signatures(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    cfg: MinHashConfig | None = None,
):
    """Start an AvailableNow stream: parquet dir → minhash signatures →
    parquet signature table. Returns the StreamingQuery (caller awaits)."""
    cfg = cfg or MinHashConfig()
    stream = spark.readStream.schema(schema).parquet(input_dir)
    signed = add_all_signatures(
        stream.select("url", "text").withColumn("doc_id", F.xxhash64("url")), cfg
    ).select("url", "doc_id", "minhash_sig")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_dir)

    return (
        signed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup_first_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
):
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    exact-dedup on arrival. Keyed by the content digest; the per-key state
    is the running occurrence count, so every arriving row is labeled with
    ``dup_rank`` (how many occurrences of its text came before it, across
    ALL previous triggers and restarts — state lives in the checkpointed
    state store) and ``is_duplicate`` (rank > 0). The first-seen row of
    each text is the keeper; everything else is droppable on sight —
    dedup-on-arrival semantics the batch collapse can't give.

    Rows within one batch are ordered by (warc_ts, url) before ranking so
    the labeling is deterministic at any partitioning. Returns the started
    StreamingQuery (AvailableNow; caller awaits)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .select("url", "warc_ts", F.sha2("text", 256).alias("text_sha"))
    )

    out_schema = "text_sha string, url string, dup_rank long, is_duplicate boolean"
    state_schema = "freq long"

    def label(key, pdfs, state: GroupState):
        import numpy as np

        (freq,) = state.get if state.exists else (0,)
        # concatenate ALL of the group's Arrow chunks before the one sort:
        # chunk-local sorting would make the rank order (and the rank-0
        # keeper) depend on chunk arrival order when a key spans chunks
        chunks = list(pdfs)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["warc_ts", "url"], ignore_index=True
        )
        ranks = np.arange(freq, freq + len(pdf))
        out = pd.DataFrame(
            {
                "text_sha": key[0],
                "url": pdf["url"],
                "dup_rank": ranks,
                "is_duplicate": ranks > 0,
            }
        )
        state.update((freq + len(pdf),))
        yield out

    labeled = stream.groupBy("text_sha").applyInPandasWithState(
        label, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_dir)

    return (
        labeled.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
