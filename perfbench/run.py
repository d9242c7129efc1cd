"""Benchmark of the dedup pipeline, end to end and layer by layer.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 15 --trace 0

One run is one Spark driver process against the unmodified package:

1. set-up: start a Spark session, generate the seeded input parquet (three
   times; the median counts) and warm up with one pipeline call;
2. measure: call the pipeline on fresh workdirs until ``--seconds`` have
   passed (a traced run makes one call), checking and digesting every
   call's outputs outside the timer;
3. with ``--trace 1``: restart the session with Spark's event log on, make
   one traced pipeline call, replay the pipeline's operator sequence one
   public call at a time, and derive the per-layer metrics.

The last line of stdout is the result JSON. Everything a run writes goes
under ``perfbench/.scratch/<run>`` (deleted at the end) except the span and
layer report of a traced run, kept in ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import measure
from corpus import (
    RecrawlSpec,
    crawl_gold_pairs,
    generate_crawl,
    generate_recrawl,
    gold_label,
    pair_counts,
)

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCRATCH = os.path.join(BENCH_DIR, ".scratch")
OUT = os.path.join(BENCH_DIR, "out")
EXPECTED = os.path.join(BENCH_DIR, "expected.json")

# local[k], k <= nproc. Two task slots, not four, on a 4-CPU host: at this
# input size the pipeline is latency-bound (four slots were only ~8% faster),
# and the spare CPUs serve the JVM's own threads, the driver and steal
CORES = min(2, len(os.sched_getaffinity(0)))
# driver heap, committed and touched at JVM start (-Xms, AlwaysPreTouch) so
# peak RSS does not depend on when the collector chose to grow the heap;
# the whole run stays under ~3.5 GB resident
HEAP = "2g"
GEN_REPEATS = 3
MIN_CALLS = 2  # timed calls per untraced run, at least
# quality floors of the correctness gate: far below what the pipeline
# reaches (see README), so only a gross break fails a run
MIN_RECALL = 0.8
MIN_PRECISION = 0.8

CLUSTER_STAGES = [
    "membership",
    "collapse",
    "sign",
    "minhash",
    "simhash",
    "substring",
    "components",
    "expand",
]
DETECTORS = ["minhash", "simhash", "substring"]
DETECTOR_FIELDS = {
    "candidates": "count",
    "verified": "count",
    "yield": "ratio",
    "dropped_keys": "count",
    "dropped_postings": "count",
    "wall_s": "s",
    "cpu_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
SPARK_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "run_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "cpu_util": "ratio",
}

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pair_recall": "ratio",
    "pair_precision": "ratio",
    "output_match_frac": "ratio",
    "ckpt_mb_per_input_mb": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "sources.gen_s": "s",
        "sign.wall_s": "s",
        "sign.cpu_s": "s",
        "sign.cpu_ms_per_doc": "ms",
        "sign.rows": "count",
        "sign.arrow_to_python_mb": "MB",
        "sign.arrow_from_python_mb": "MB",
    }
    for d in DETECTORS:
        units.update({f"{d}.{k}": u for k, u in DETECTOR_FIELDS.items()})
    units.update(
        {"cc.wall_s": "s", "cc.jobs": "count", "cc.edges": "count", "cc.shuffle_write_mb": "MB"}
    )
    for s in CLUSTER_STAGES:
        units.update(
            {f"stage.{s}.rows": "count", f"stage.{s}.done_s": "s", f"stage.{s}.ckpt_mb": "MB"}
        )
    units.update({"writeback.wall_s": "s", "writeback.rows": "count"})
    units.update({f"spark.{k}": u for k, u in SPARK_FIELDS.items()})
    units.update({"trace.pipeline_wall_s": "s", "trace.overhead_frac": "ratio"})
    return units


# --- workloads ---------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    full: bool  # dedup_pipeline_full (adds duplicates + writeback stages)
    cap: int | None  # bucket cap for every detector; None keeps the defaults

    def config(self):
        from outcite_duplicate_detecting_spark.plans.pipeline import PipelineConfig

        cfg = PipelineConfig()
        if self.cap is not None:
            cfg.minhash = dataclasses.replace(cfg.minhash, max_bucket_size=self.cap)
            cfg.simhash = dataclasses.replace(cfg.simhash, max_bucket_size=self.cap)
            cfg.substring = dataclasses.replace(cfg.substring, max_fingerprint_df=self.cap)
        return cfg

    def generate(self, spark, seed: int, parts: int):
        if self.full:
            return generate_recrawl(spark, RecrawlSpec(n_docs=self.n_docs), seed, parts)
        return generate_crawl(spark, self.n_docs, seed, parts)

    def gold_pairs(self) -> int:
        if self.full:
            return RecrawlSpec(n_docs=self.n_docs).gold_pairs()
        return crawl_gold_pairs(self.n_docs)

    def call(self, spark, pages, workdir: str, run_id: str) -> dict:
        from outcite_duplicate_detecting_spark.plans import pipeline

        if not self.full:
            out = pipeline.dedup_pipeline(
                spark, pages, self.config(), workdir=workdir, run_id=run_id
            )
            return {"assignments": out}
        res = pipeline.dedup_pipeline_full(
            spark, pages, self.config(), workdir=workdir, run_id=run_id
        )
        return {
            "assignments": res.assignments,
            "duplicates": res.duplicates,
            "canonical_pages": res.canonical_pages,
        }


WORKLOADS = {
    w.name: w
    for w in [
        # uniform crawl, no hot keys: signing dominates
        Workload("crawl_pipeline", n_docs=3000, full=False, cap=None),
        # template boilerplate + recrawl drift chains + a hot exact repost;
        # the 25000 cap is scaled down with the corpus so the hot host's
        # template keys exceed it, as web-scale boilerplate does
        Workload("recrawl_full", n_docs=3000, full=True, cap=500),
    ]
}


# --- session -----------------------------------------------------------------


def stale_jvms() -> list[int]:
    """JVMs whose command line points into the benchmark's scratch root."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and SCRATCH in cmd:
            out.append(int(name))
    return out


def wait_no_stale_jvm(timeout: float = 30.0) -> None:
    deadline = time.time() + timeout
    while stale_jvms():
        if time.time() > deadline:
            raise RuntimeError(f"JVMs of an earlier run still alive: {stale_jvms()}")
        time.sleep(0.5)


def start_session(scratch: str, event_log_dir: str | None = None):
    from outcite_duplicate_detecting_spark.session import get_spark

    local = os.path.join(scratch, "local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(cores=CORES, extra_conf=conf)


def stop_jvm() -> None:
    """Stop Spark, then end the JVM and wait until it and every other child
    process of this driver have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while len(measure.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in measure.tree_pids()[1:]:  # Python workers that outlived it
        os.kill(pid, signal.SIGKILL)


# --- outputs -----------------------------------------------------------------


def digest(df) -> str:
    """Order-insensitive digest of every row and column."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_outputs(w: Workload, frames: dict) -> tuple[list[str], object]:
    """Structural checks of one call's outputs; returns (problems, assignments)."""
    problems = []
    a = frames["assignments"].toPandas()
    if len(a) != w.n_docs:
        problems.append(f"assignments has {len(a)} rows, input {w.n_docs}")
    if a["doc_id"].duplicated().any():
        problems.append("doc_id not unique in assignments")
    g = a.groupby("cluster_id")["doc_id"]
    if (g.transform("min") != a["cluster_id"]).any():
        problems.append("cluster_id is not the minimum doc_id of its cluster")
    gold = [gold_label(w.name, u) for u in a["url"]]
    if pair_counts(gold, gold)[2] != w.gold_pairs():
        problems.append("output rows do not carry the planted gold pairs")
    size = g.transform("size")
    if ((size > 1) != a["is_duplicate"]).any():
        problems.append("is_duplicate disagrees with cluster size")
    if w.full:
        multi = int((g.size() > 1).sum())
        dups = frames["duplicates"].select("n_members").toPandas()
        if len(dups) != multi:
            problems.append(f"duplicates has {len(dups)} rows, {multi} clusters")
        if int(dups["n_members"].sum()) != int(a["is_duplicate"].sum()):
            problems.append("duplicates n_members disagree with assignments")
        n = frames["canonical_pages"].count()
        if n != w.n_docs:
            problems.append(f"canonical_pages has {n} rows, input {w.n_docs}")
    return problems, a


def quality(w: Workload, assignments) -> tuple[float, float]:
    """(pair recall, pair precision) against the planted gold."""
    gold = [gold_label(w.name, u) for u in assignments["url"]]
    both, pred, gold_n = pair_counts(list(assignments["cluster_id"]), gold)
    return both / max(gold_n, 1), both / max(pred, 1)


def pinned(workload: str, seed: int) -> dict | None:
    if not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as f:
        return json.load(f).get(workload, {}).get(str(seed))


# --- the run -----------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    def __init__(self, w: Workload, seed: int, seconds: float, min_calls: int, scratch: str):
        self.w, self.seed, self.scratch = w, seed, scratch
        # timed calls go on until both `seconds` and `min_calls` are reached, so
        # how many calls a run makes does not depend on how fast the first was
        self.seconds, self.min_calls = seconds, min_calls
        self.run_id = f"{w.name}-s{seed}-{os.getpid()}"
        self.spans = measure.Spans(self.run_id)
        self.spark = None
        self.pages = None
        self.input_mb = 0.0

    def gen(self) -> float:
        """Generate the input parquet; returns seconds taken."""
        path = os.path.join(self.scratch, "input.parquet")
        shutil.rmtree(path, ignore_errors=True)
        t = time.perf_counter()
        self.w.generate(self.spark, self.seed, parts=CORES).write.parquet(path)
        dt = time.perf_counter() - t
        self.pages = self.spark.read.parquet(path)
        self.input_mb = measure.dir_mb(path)
        return dt

    def call(self, tag: str) -> tuple[float, dict, str]:
        wd = os.path.join(self.scratch, f"work-{tag}")
        t = time.perf_counter()
        frames = self.w.call(self.spark, self.pages, wd, f"{self.run_id}-{tag}")
        return time.perf_counter() - t, frames, wd

    def setup(self) -> dict:
        t = time.perf_counter()
        self.spark = start_session(self.scratch)
        session_s = time.perf_counter() - t
        gen_s = median([self.gen() for _ in range(GEN_REPEATS)])
        warm_s, _frames, wd = self.call("warmup")
        shutil.rmtree(wd)
        os.sync()
        log(f"setup: session {session_s:.2f}s gen {gen_s:.2f}s warmup {warm_s:.2f}s")
        return {"session_s": session_s, "gen_s": gen_s, "setup_s": session_s + gen_s + warm_s}

    def measure(self) -> dict:
        walls, rss, ckpt, matches = [], [], [], []
        expected = pinned(self.w.name, self.seed)
        recall = precision = 0.0
        attempted = failed = 0
        start = time.perf_counter()
        while len(walls) < self.min_calls or time.perf_counter() - start < self.seconds:
            attempted += 1
            try:
                with measure.RssSampler() as sampler:
                    wall, frames, wd = self.call(f"t{attempted}")
                digests = {k: digest(v) for k, v in frames.items()}
                bad, assignments = check_outputs(self.w, frames)
            except Exception as e:  # a failed call counts; the run goes on
                log(f"call {attempted} failed: {e!r}")
                failed += 1
                walls.append(float("nan"))
                continue
            if expected is None:
                expected = digests  # unpinned seed: every call must match the first
            ok = [digests[k] == expected.get(k) for k in digests]
            matches.extend(ok)
            if bad or not all(ok):
                failed += 1
                log(f"call {attempted}: digests {digests} problems {bad}")
            recall, precision = quality(self.w, assignments)
            walls.append(wall)
            rss.append(sampler.peak)
            ckpt.append(
                sum(measure.dir_mb(os.path.join(wd, s, "data")) for s in os.listdir(wd))
                / self.input_mb
            )
            shutil.rmtree(wd)
            os.sync()
            log(
                f"call {attempted}: {wall:.3f}s rss {sampler.peak:.0f}MB,"
                f" checks {time.perf_counter() - start - sum(walls):.1f}s so far"
            )
        good = [x for x in walls if x == x]
        if not good:
            raise RuntimeError("every timed call failed")
        return {
            "attempted": attempted,
            "failed": failed,
            "walls": good,
            "wall_s": median(good),
            "peak_rss_mb": median(rss),
            "ckpt_mb_per_input_mb": median(ckpt),
            "output_match_frac": sum(matches) / max(len(matches), 1),
            "pair_recall": recall,
            "pair_precision": precision,
        }

    # --- traced part ---------------------------------------------------------

    def traced(self, untraced_wall: float) -> dict[str, float]:
        """Per-layer metrics from a traced call plus an operator replay."""
        from layers import replay

        self.spark.stop()
        log_dir = os.path.join(self.scratch, "eventlog")
        self.spark = start_session(self.scratch, event_log_dir=log_dir)
        self.pages = self.spark.read.parquet(os.path.join(self.scratch, "input.parquet"))
        with self.spans.span("pipeline") as sp:
            wall, _frames, wd = self.call("traced")
        metrics = {
            "trace.pipeline_wall_s": wall,
            "trace.overhead_frac": wall / untraced_wall - 1.0,
        }
        for stage, vals in measure.stage_report(wd, sp["start"]).items():
            if stage in CLUSTER_STAGES:
                metrics.update({f"stage.{stage}.{k}": v for k, v in vals.items()})
        counts = replay(self.spark, self.w.config(), wd, self.scratch, self.spans)
        self.spark.stop()
        ev = measure.EventLog(measure.find_event_log(log_dir))
        whole = ev.window(sp["start"], sp["end"])
        metrics.update({f"spark.{k}": whole.get(k, 0.0) for k in SPARK_FIELDS if k != "cpu_util"})
        metrics["spark.cpu_util"] = whole.get("run_s", 0.0) / (wall * CORES)
        sign, sign_cpu = ev.group("sign"), self.spans.get("sign")["cpu_s"]
        metrics.update(
            {
                "sign.wall_s": self.spans.wall("sign"),
                "sign.cpu_s": sign_cpu,
                "sign.rows": counts["sign.rows"],
                "sign.cpu_ms_per_doc": 1000 * sign_cpu / counts["sign.rows"],
                "sign.arrow_to_python_mb": sign.get("py_sent_mb", 0.0),
                "sign.arrow_from_python_mb": sign.get("py_recv_mb", 0.0),
            }
        )
        for d in DETECTORS:
            g = ev.group(d)
            metrics.update(
                {
                    f"{d}.wall_s": self.spans.wall(d),
                    f"{d}.cpu_s": self.spans.get(d)["cpu_s"],
                    f"{d}.shuffle_write_mb": g.get("shuffle_write_mb", 0.0),
                    f"{d}.spill_mb": g.get("spill_mb", 0.0),
                }
            )
            for k in ("candidates", "verified", "dropped_keys", "dropped_postings"):
                metrics[f"{d}.{k}"] = counts[f"{d}.{k}"]
            metrics[f"{d}.yield"] = counts[f"{d}.verified"] / max(counts[f"{d}.candidates"], 1)
        cc = ev.group("cc")
        metrics.update(
            {
                "cc.wall_s": self.spans.wall("cc"),
                "cc.jobs": cc.get("jobs", 0.0),
                "cc.edges": counts["cc.edges"],
                "cc.shuffle_write_mb": cc.get("shuffle_write_mb", 0.0),
            }
        )
        metrics["writeback.wall_s"] = self.spans.wall("writeback")
        metrics["writeback.rows"] = counts["writeback.rows"]
        return metrics


def prepare_scratch(tag: str) -> str:
    """A fresh scratch dir for one run; Spark, the JVM and Python's tempfile
    all write under it. Waits out (or fails on) a JVM of an earlier run."""
    os.makedirs(SCRATCH, exist_ok=True)
    wait_no_stale_jvm()
    scratch = tempfile.mkdtemp(prefix=f"{tag}-", dir=SCRATCH)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM of the run, the spark-submit launcher's too, keeps its temp
    # and perf-data files out of the shared /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    # Python workers unpickle the corpus generator by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    return scratch


def run(args) -> dict:
    w = WORKLOADS[args.workload]
    scratch = prepare_scratch(f"{w.name}-s{args.seed}")
    os.sync()
    # a traced run times one untraced call, its overhead baseline
    if args.trace:
        r = Run(w, args.seed, 0, 1, scratch)
    else:
        r = Run(w, args.seed, args.seconds, MIN_CALLS, scratch)
    try:
        with r.spans.span("run"):
            with r.spans.span("setup"):
                setup = r.setup()
            with r.spans.span("measure"):
                m = r.measure()
            layer = r.traced(m["wall_s"]) if args.trace else {}
    finally:
        t = time.perf_counter()
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
        log(f"teardown {time.perf_counter() - t:.2f}s")
    quality_ok = m["pair_recall"] >= MIN_RECALL and m["pair_precision"] >= MIN_PRECISION
    if not quality_ok:
        log(f"quality below floor: recall {m['pair_recall']} precision {m['pair_precision']}")
    if args.trace:
        layer["session.start_s"] = setup["session_s"]
        layer["sources.gen_s"] = setup["gen_s"]
        os.makedirs(OUT, exist_ok=True)
        stem = os.path.join(OUT, f"{w.name}-seed{args.seed}")
        r.spans.write(stem + "-spans.json")
        with open(stem + "-layers.json", "w") as f:
            json.dump(layer, f, indent=1, sort_keys=True)
        units = per_layer_units()
        metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in units.items()}
    else:
        values = {
            "wall_s": m["wall_s"],
            "docs_per_s": w.n_docs / m["wall_s"],
            "setup_s": setup["setup_s"],
            "peak_rss_mb": m["peak_rss_mb"],
            "pair_recall": m["pair_recall"],
            "pair_precision": m["pair_precision"],
            "output_match_frac": m["output_match_frac"],
            "ckpt_mb_per_input_mb": m["ckpt_mb_per_input_mb"],
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    log(f"walls {[round(x, 3) for x in m['walls']]}")
    return {
        "correct": m["failed"] == 0 and quality_ok,
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
    }


def parse_args(argv: list[str] | None = None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import outcite_duplicate_detecting_spark  # noqa: F401
    except ImportError as e:
        log(f"package under test not found next to perfbench/: {e}")
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
