"""Benchmark harness, sized to the host it runs on. After one bounded
health gate (``wait_for_healthy_host``) it prints one JSON line twice:
headline-only before the throughput legs (so a run cut during the legs
still leaves a parsable line), then the full line, which adds
``throughput``. Results also land in BENCH/BASELINE.md.

1. Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
   on local[<CPUs in the affinity set>]: wall seconds through the noop sink
   (full computation, no driver collect), two passes, min per query.
2. Throughput: the dedup pipeline over $SPARK_GRAFT_BENCH_DOCS synthetic
   pages at N and 4N cores (``plan_legs``), each leg a fresh JVM pinned
   with taskset to the first N (4N) CPUs of the affinity set. Pinning
   emulates a core-bounded executor: a pandas-UDF workload runs N JVM task
   threads plus N python workers, so an unpinned local[N] borrows up to 2N
   cores. Legs run big, small, big, small (one slow host window then hits
   at most one attempt per leg); each leg reports its best attempt, and a
   failed or timed-out attempt gets one replacement.
   $SPARK_GRAFT_SKIP_SCALING=1 skips the legs; so do fewer than 4 CPUs,
   with the reason recorded.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# 400k docs: large enough that the constant serial tail (driver barriers,
# AQE re-plans, CC rounds) is a small share of the small leg.
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "400000"))
SKIP_SCALING = os.environ.get("SPARK_GRAFT_SKIP_SCALING", "") == "1"

HEADLINE = [
    "dedup_minhash_lsh", "dedup_simhash", "dedup_substring", "connected_components",
    "dedup_jaccard", "agg_lineitem", "join_revenue_by_nation", "sessionize",
    "topk_per_group", "text_quality", "token_count", "knn_cosine",
]


def plan_legs(cpus: int, ram_bytes: int) -> tuple[int, int, float, float] | None:
    """(n_small, n_big, heap_small_gb, heap_big_gb) for the N-vs-4N legs, or
    None when the host has too few CPUs for a 4N leg.

    N is capped at 2: on a 32-CPU host 16+ busy cores paid a ~1.24× turbo /
    memory-bandwidth penalty on identical numpy tasks, so 2-vs-8 measured
    the pipeline rather than the silicon. The heap scales with the leg,
    because 4N executors own 4× the memory of N; per core it is 12 GB, or
    less so that the big leg's heap stays within 60% of physical RAM."""
    n_small = max(1, min(2, cpus // 4))
    n_big = 4 * n_small
    if n_big > cpus:
        return None
    per_core_gb = min(12.0, 0.6 * ram_bytes / 2**30 / n_big)
    return n_small, n_big, round(per_core_gb * n_small, 2), round(per_core_gb * n_big, 2)


# children still running, so a signal to bench.py can end their process groups
_RUNNING: set[subprocess.Popen] = set()


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _stop_children(signum: int, _frame) -> None:
    for proc in list(_RUNNING):
        _kill_group(proc)
    raise SystemExit(128 + signum)


def run_child(code: str, args: list, cpus: list[int], timeout: int) -> tuple[dict | None, str]:
    """Run ``code`` in a fresh python pinned with taskset to ``cpus`` (as-is
    without taskset). Returns (last JSON line of its stdout or None, stderr).
    A fresh process per run: pyspark keeps its gateway JVM alive until the
    python process exits, and a lingering JVM would pollute the next run.
    The child leads its own session, so a timeout kills its whole process
    group (python, JVM, python workers) and returns None like a failure."""
    argv = [sys.executable, "-c", code, REPO, *map(str, args)]
    if shutil.which("taskset"):
        argv = ["taskset", "-c", ",".join(map(str, cpus))] + argv
    proc = subprocess.Popen(argv, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    _RUNNING.add(proc)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_group(proc)
        _out, err = proc.communicate()
        return None, f"{err}\ntimed out after {timeout}s"
    finally:
        _RUNNING.discard(proc)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    return (json.loads(lines[-1]) if lines else None), err


_HEADLINE_CHILD = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as entrymod
from outcite_duplicate_detecting_spark.session import get_spark

spark = get_spark(cores=int(sys.argv[2]), app_name="bench-headline")
qs = entrymod.queries()
# two passes, min per query: the second pass factors out one-time JVM and
# codegen warm-up, and the min drops a sample hit by a slow host window
timings = {}
for _pass in range(2):
    for name in sys.argv[4:]:
        t0 = time.time()
        qs[name](spark, sys.argv[3]).write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        if name not in timings or dt < timings[name]:
            timings[name] = dt
print(json.dumps(timings))
"""

_CAL_CHILD = r"""
import json, time
import numpy as np
h = np.arange(5_000_000, dtype=np.uint64)
t0 = time.time()
for _ in range(20):
    z = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
print(json.dumps({"sec": time.time() - t0}))
"""


def calibrate_host(n_small: int, n_big: int) -> dict:
    """Per-core seconds of a fixed numpy kernel with n_small, then n_big
    copies busy, one on each of the first n CPUs of the affinity set.
    ``silicon_efficiency`` (per-core throughput at n_big relative to
    n_small) is the N-vs-4N scaling the machine itself can show."""
    cpus = sorted(os.sched_getaffinity(0))

    def run_busy(n: int) -> float:
        with ThreadPoolExecutor(n) as pool:
            runs = list(pool.map(lambda cpu: run_child(_CAL_CHILD, [], [cpu], 600), cpus[:n]))
        failed = [err for res, err in runs if res is None]
        if failed:
            raise RuntimeError(f"calibration probe failed:\n{failed[0][-2000:]}")
        return sum(res["sec"] for res, _err in runs) / n

    t_small, t_big = run_busy(n_small), run_busy(n_big)
    return {"percore_sec_at_small": round(t_small, 2), "percore_sec_at_big": round(t_big, 2),
            "silicon_efficiency": round(t_small / t_big, 3)}


def wait_for_healthy_host(n_small: int, n_big: int) -> dict:
    """Wait, at most 120 s, for a probe that is healthy on both axes.

    Hosts have had windows where every core, or every busy core, is several
    times slower; timings from such a window measure the host, not the
    pipeline. Healthy: silicon efficiency >= 0.65 AND per-core time at
    n_small <= 1.8 s (a uniformly slow window reads efficiency ~1.0). On
    timeout the run goes on with started_degraded=true."""
    max_wait_sec, sleep_sec = 120, 20
    healthy_eff, healthy_percore_sec = 0.65, 1.8
    t0 = time.time()
    probes = []
    while True:
        cal = calibrate_host(n_small, n_big)
        probes.append({**cal, "t_offset_sec": round(time.time() - t0, 1)})
        healthy = (cal["silicon_efficiency"] >= healthy_eff
                   and cal["percore_sec_at_small"] <= healthy_percore_sec)
        if healthy or time.time() - t0 + sleep_sec > max_wait_sec:
            return {"waited_sec": round(time.time() - t0, 1),
                    "started_degraded": not healthy, "probes": probes}
        time.sleep(sleep_sec)


_LEG_CHILD = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
from outcite_duplicate_detecting_spark.session import get_spark
from outcite_duplicate_detecting_spark.plans.pipeline import PipelineConfig, dedup_pipeline

cores, corpus, workdir, heap = int(sys.argv[2]), sys.argv[3], sys.argv[4], sys.argv[5]
# shuffle partitions are sized by the data and identical across legs: the
# same physical plan at two parallelism levels
spark = get_spark(cores=cores, app_name=f"bench-leg-{cores}", shuffle_partitions=32,
                  extra_conf={"spark.driver.memory": heap})
pages = spark.read.parquet(corpus)
t0 = time.time()
out = dedup_pipeline(spark, pages, PipelineConfig(), workdir=workdir, run_id=f"bench{cores}")
n = out.count()
dup_rows = out.where(out.is_duplicate).count()
wall = time.time() - t0
print(json.dumps({"cores": cores, "wall_sec": round(wall, 2), "docs": n,
                  "docs_per_sec": round(n / wall, 1), "dup_rows": dup_rows}))
spark.stop()
"""


_GEN_CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
from outcite_duplicate_detecting_spark.session import get_spark
from outcite_duplicate_detecting_spark.sources.bench_corpus import generate_bench_pages

cpus, docs, out = int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
generate_bench_pages(get_spark(cores=cpus, app_name="bench-gen"), docs,
                     parts=max(cpus * 2, 64)).write.parquet(out)
print("{}")
"""


def stage_walls(workdir: str) -> dict[str, float]:
    """{stage: wall_s} from the stage manifests a pipeline run leaves."""
    walls = {}
    for mf in sorted(glob.glob(os.path.join(workdir, "*", "manifest.json"))):
        with open(mf) as f:
            walls[os.path.basename(os.path.dirname(mf))] = json.load(f)["wall_s"]
    return walls


def run_scaling(cpus: int, legs: tuple[int, int, float, float]) -> dict:
    n_small, n_big, heap_small_gb, heap_big_gb = legs
    affinity = sorted(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix="bench_corpus_")
    corpus_dir = os.path.join(tmp, "pages")
    res, err = run_child(_GEN_CHILD, [cpus, BENCH_DOCS, corpus_dir], affinity, 3600)
    if res is None:
        raise RuntimeError(f"corpus generation failed:\n{err[-2000:]}")
    # every attempt in run order: the leg's JSON plus its per-stage walls,
    # or the tail of its stderr
    attempts: dict[int, list[dict]] = {n_small: [], n_big: []}

    def run_leg(cores: int) -> bool:
        attempt = len(attempts[cores])
        workdir = os.path.join(tmp, f"work{cores}_{attempt}")
        # flush dirty pages first: unsynced writes of earlier legs otherwise
        # throttle this leg's shuffle and checkpoint writes
        os.sync()
        heap = f"{int((heap_small_gb if cores == n_small else heap_big_gb) * 1024)}m"
        res, err = run_child(_LEG_CHILD, [cores, corpus_dir, workdir, heap],
                             affinity[:cores], 5400)
        with open(f"BENCH/leg_{cores}_{attempt}.log", "w") as f:
            f.write(err[-200_000:])
        attempts[cores].append(
            {**res, "stages": stage_walls(workdir)} if res else {"error": err[-2000:]}
        )
        shutil.rmtree(workdir, ignore_errors=True)
        return res is not None

    for cores in (n_big, n_small, n_big, n_small):
        run_leg(cores) or run_leg(cores)
    shutil.rmtree(tmp, ignore_errors=True)

    out = {"docs": BENCH_DOCS, "cores_small": n_small, "cores_big": n_big,
           "heap_small_gb": heap_small_gb, "heap_big_gb": heap_big_gb,
           "pinned": shutil.which("taskset") is not None,
           "attempts": {str(c): attempts[c] for c in (n_small, n_big)}}
    best = {c: min((a for a in attempts[c] if "wall_sec" in a),
                   key=lambda a: a["wall_sec"], default=None) for c in (n_small, n_big)}
    if None in best.values():
        return {**out, "failed": [c for c, a in best.items() if a is None]}
    for leg, c in (("small", n_small), ("big", n_big)):
        out[f"{leg}_docs_per_sec"] = best[c]["docs_per_sec"]
        out[f"{leg}_wall_sec"] = best[c]["wall_sec"]
    speedup = best[n_big]["docs_per_sec"] / best[n_small]["docs_per_sec"]
    return {**out, "speedup_n_to_4n": round(speedup, 3),
            "scaling_efficiency": round(speedup / 4, 3)}


def write_bench_md(out: dict) -> None:
    lines = [
        "# BENCH — measured numbers",
        "",
        f"Headline queries at `{SF_DIR}` on local[{out['cpus']}] (noop sink, full",
        "compute; two passes, min per query):",
        "",
        "| query | sec |",
        "| --- | --- |",
        *(f"| {k} | {v} |" for k, v in out["queries"].items()),
        f"| **total** | **{out['value']}** |",
        "",
        "## The bench JSON (health gate probes, throughput legs)",
        "",
        "```json",
        json.dumps(out, indent=1),
        "```",
    ]
    with open("BENCH/BASELINE.md", "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> int:
    from outcite_duplicate_detecting_spark.session import physical_ram_bytes

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)
    affinity = sorted(os.sched_getaffinity(0))
    cpus = len(affinity)
    legs = plan_legs(cpus, physical_ram_bytes())
    os.makedirs("BENCH", exist_ok=True)
    # with fewer than 4 CPUs the gate probes 1 vs all CPUs
    health = wait_for_healthy_host(*(legs[:2] if legs else (1, cpus)))
    timings, err = run_child(_HEADLINE_CHILD, [cpus, SF_DIR, *HEADLINE], affinity, 3600)
    if timings is None:
        raise RuntimeError(f"headline run failed:\n{err[-2000:]}")
    out = {
        "metric": "e2e_headline_queries", "value": round(sum(timings.values()), 3),
        "unit": "sec", "queries": timings, "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "cpus": cpus, "headline_health_wait": health,
    }
    print(json.dumps(out), flush=True)
    if legs is None:
        out["throughput"] = {"skipped": f"{cpus} CPUs: a 4N-core leg needs at least 4"}
    elif not SKIP_SCALING:
        out["throughput"] = run_scaling(cpus, legs)
    write_bench_md(out)
    print(json.dumps(out), flush=True)
    return 1 if "failed" in out.get("throughput", {}) else 0


if __name__ == "__main__":
    sys.exit(main())
