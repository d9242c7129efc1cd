"""Stage checkpoints with lineage manifests (resumable runs).

The reference tracks progress with per-document ES flags (has_*/processed_*,
/root/reference/code/0_update_blockIDs.py:34-35,65-66) and per-patch commit
rows (the `processing` report table,
/root/reference/code/blocking/code/find_components_disk.py:211-212). Here a
stage checkpoint is:

    <workdir>/<stage>/data/            parquet output of the stage
    <workdir>/<stage>/manifest.json    input + config fingerprints, stage,
                                       run_id, rows, wall_s, completed_at

``run_stage`` recomputes only when the (input fingerprint, config
fingerprint) pair changed; otherwise it reads the checkpoint back — which
makes any pipeline prefix resumable after a crash, and makes stage outputs
inspectable tables rather than opaque lineage. With an Iceberg catalog the
data directory becomes a table and the manifest a snapshot property; the
parquet layout keeps identical semantics without the runtime jar.
"""

from __future__ import annotations

import gc
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def parquet_row_count(path: str) -> int:
    """Row count straight from the parquet footers of a written directory —
    metadata only, no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def run_stage(
    spark: SparkSession,
    workdir: str,
    stage: str,
    input_fingerprint: str,
    config_fingerprint: str,
    compute: Callable[[], DataFrame],
    run_id: str = "",
) -> tuple[DataFrame, bool]:
    """Execute or resume one pipeline stage.

    Returns (stage output DataFrame read back from the checkpoint, resumed?).
    """
    stage_dir = os.path.join(workdir, stage)
    data_dir = os.path.join(stage_dir, "data")
    mf_path = os.path.join(stage_dir, "manifest.json")
    want = {"input": input_fingerprint, "config": config_fingerprint}

    if os.path.exists(mf_path):
        with open(mf_path) as f:
            have = json.load(f)
        if have.get("input") == want["input"] and have.get("config") == want["config"]:
            return spark.read.parquet(data_dir), True

    t0 = time.time()
    df = compute()
    df.write.mode("overwrite").parquet(data_dir)
    wall_s = time.time() - t0
    # drop operator-internal localCheckpoint blocks promptly: the stage's
    # parquet checkpoint supersedes them, and accumulated RDD blocks
    # (shingle/signature arrays) otherwise pressure the executor heap
    del df
    gc.collect()
    out = spark.read.parquet(data_dir)
    with open(mf_path, "w") as f:
        json.dump(
            {
                **want,
                "stage": stage,
                "run_id": run_id,
                "rows": parquet_row_count(data_dir),
                "wall_s": round(wall_s, 3),
                "completed_at": time.time(),
            },
            f,
        )
    return out, False
