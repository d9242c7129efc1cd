"""Interleaved 64-bit vs 128-bit doc-id A/B probe at fixed core counts.

Usage: python tools/probe_modes.py <n_docs> <mode:cores[:mem]> [...]
e.g.   python tools/probe_modes.py 800000 id64:8 id128:8:64g id64:8 id128:8

Modes: id64 (xxhash64 long ids, the default) and id128 (16-byte binary
ids, ``PipelineConfig(id_bits=128)``). One corpus, one leg per fresh
pinned JVM, legs run in the given order — interleaving distinguishes the
host's sporadic ~2x slow state (hits one leg) from a real mode pathology
(hits every leg of that mode).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SNIPPET = r"""
import json, sys, time
sys.path.insert(0, "__REPO__")
from outcite_duplicate_detecting_spark.session import get_spark
from outcite_duplicate_detecting_spark.plans.pipeline import PipelineConfig, dedup_pipeline

cores = int(sys.argv[1]); corpus = sys.argv[2]; workdir = sys.argv[3]
mode = sys.argv[4]  # id64 | id128
cfg = PipelineConfig(id_bits={"id64": 64, "id128": 128}[mode])
spark = get_spark(cores=cores, app_name=f"probe-{mode}-{cores}",
                  shuffle_partitions=32)
pages = spark.read.parquet(corpus)
t0 = time.time()
out = dedup_pipeline(spark, pages, cfg, workdir=workdir, run_id=f"p{cores}")
n = out.count()
dups = out.where(out.is_duplicate).count()
wall = time.time() - t0
print(json.dumps({"mode": sys.argv[4], "cores": cores, "wall_sec": round(wall, 2),
                  "docs_per_sec": round(n / wall, 1), "dup_rows": dups}))
spark.stop()
"""


def main() -> None:
    n_docs = int(sys.argv[1])
    legs = [a.split(":") for a in sys.argv[2:]]

    tmp = tempfile.mkdtemp(prefix="probe_modes_")
    corpus_dir = os.path.join(tmp, "pages")
    from outcite_duplicate_detecting_spark.session import get_spark
    from outcite_duplicate_detecting_spark.sources.bench_corpus import generate_bench_pages

    gen = get_spark(cores=len(os.sched_getaffinity(0)), app_name="probe-gen")
    generate_bench_pages(gen, n_docs, parts=64).write.mode("overwrite").parquet(corpus_dir)
    gen.stop()

    for i, leg in enumerate(legs):
        mode, cores = leg[0], leg[1]
        env = dict(os.environ, SPARK_GRAFT_STAGE_TIMING="1")
        if len(leg) > 2:
            env["SPARK_GRAFT_DRIVER_MEM"] = leg[2]
        workdir = os.path.join(tmp, f"work{i}")
        os.sync()
        pin = ["taskset", "-c", f"0-{int(cores) - 1}"] if shutil.which("taskset") else []
        proc = subprocess.run(
            pin + [sys.executable, "-c", SNIPPET.replace("__REPO__", REPO),
                   cores, corpus_dir, workdir, mode],
            capture_output=True, text=True, timeout=5400, env=env,
        )
        print(f"--- leg {i}: {':'.join(leg)} ---", flush=True)
        for ln in proc.stdout.splitlines():
            if ln.startswith(("STAGE_TIMING", "{")):
                print(ln, flush=True)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], flush=True)
        shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
