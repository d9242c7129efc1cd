"""Profile the dedup pipeline at two parallelism levels with stage timing.

Usage: python tools/profile_scaling.py [n_docs] [cores ...]
Generates the deterministic bench corpus once, then runs the pipeline in a
fresh subprocess per core count with SPARK_GRAFT_STAGE_TIMING=1.
"""

from __future__ import annotations

import os
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
# mirror bench.py's scaling snippet exactly: data-sized shuffle
# partitions, identical across legs
spark = get_spark(cores=cores, app_name=f"profile-{cores}",
                  shuffle_partitions=32)
pages = spark.read.parquet(corpus)
t0 = time.time()
out = dedup_pipeline(spark, pages, PipelineConfig(), workdir=workdir,
                     run_id=f"p{cores}")
t1 = time.time()
n = out.count()
dups = out.where(out.is_duplicate).count()
wall = time.time() - t0
print(f"STAGE_TIMING final_counts {time.time() - t1:.2f}s", flush=True)
print(f"STAGE_TIMING pipeline_body {t1 - t0:.2f}s", flush=True)
print(json.dumps({"cores": cores, "wall_sec": round(wall, 2), "docs": n,
                  "docs_per_sec": round(n / wall, 1), "dup_rows": dups}))
spark.stop()
"""


def main() -> None:
    args = sys.argv[1:]
    n_docs = int(args[0]) if args else 60000
    core_list = [int(c) for c in args[1:]] or [8, 32]

    tmp = tempfile.mkdtemp(prefix="profile_corpus_")
    corpus_dir = os.path.join(tmp, "pages")
    from outcite_duplicate_detecting_spark.session import get_spark
    from outcite_duplicate_detecting_spark.sources.bench_corpus import generate_bench_pages

    gen = get_spark(cores=len(os.sched_getaffinity(0)), app_name="profile-gen")
    generate_bench_pages(gen, n_docs, parts=64).write.mode("overwrite").parquet(corpus_dir)
    gen.stop()

    env = dict(os.environ, SPARK_GRAFT_STAGE_TIMING="1")
    import shutil as _sh

    for cores in core_list:
        workdir = os.path.join(tmp, f"work{cores}")
        os.sync()
        # pin to exactly `cores` CPUs — same core-bounded-executor
        # emulation as bench.py's scaling legs
        pin = ["taskset", "-c", f"0-{cores - 1}"] if _sh.which("taskset") else []
        proc = subprocess.run(
            pin + [sys.executable, "-c", SNIPPET.replace("__REPO__", REPO), str(cores),
             corpus_dir, workdir],
            capture_output=True, text=True, timeout=5400, env=env,
        )
        print(f"--- cores={cores} ---")
        for ln in proc.stdout.splitlines():
            if ln.startswith(("STAGE_TIMING", "{")):
                print(ln)
        if proc.returncode != 0:
            print(proc.stderr[-3000:])


if __name__ == "__main__":
    main()
