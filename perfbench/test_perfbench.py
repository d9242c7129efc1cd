"""Self-tests of the benchmark (not of the package).

    python3 -m pytest perfbench -q

The generator tests start a small local Spark session; the command tests
run ``perfbench/run.py`` itself, one short run per mode.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

from corpus import (
    RecrawlSpec,
    crawl_gold_pairs,
    gold_label,
    pair_counts,
    recrawl_rows,
)

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- metric declarations ---------------------------------------------------


def test_metric_names_and_units():
    import run

    bench = _bench()
    declared = {}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m
        assert m["name"] not in declared, m["name"]
        declared[m["name"]] = m["unit"]
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


# --- gold ------------------------------------------------------------------


def test_pair_counts_hand_case():
    pred = ["a", "a", "a", "b", "b", "c"]
    gold = ["x", "x", "y", "y", "y", "z"]
    # true pairs: (0,1) and (3,4); predicted C(3,2)+C(2,2)=4; gold 1+3=4
    assert pair_counts(pred, gold) == (2, 4, 4)


def test_recrawl_gold_matches_construction():
    spec = RecrawlSpec(n_docs=1500, reposts=20, chains=40, versions=6)
    df = recrawl_rows(spec, 5, np.arange(spec.n_docs))
    labels = [gold_label("recrawl_full", u) for u in df["url"]]
    assert pair_counts(labels, labels)[2] == spec.gold_pairs()
    # the hot cluster is one text; chain versions share a url and drift, so
    # a chain's last version differs from its first
    assert df["text"][: spec.reposts].nunique() == 1
    chains = df.iloc[spec.reposts : spec.reposts + spec.chain_rows]
    assert chains.groupby("url").size().eq(spec.versions).all()
    ends = chains.groupby("url")["text"].agg(["first", "last"])
    assert (ends["first"] != ends["last"]).all()
    # consecutive versions differ in about `drift` of their tokens
    first = chains[chains["url"] == chains["url"].iloc[0]]["text"].str.split().tolist()
    diffs = [
        sum(a != b for a, b in zip(u, v)) / len(u) for u, v in zip(first, first[1:])
    ]
    assert 0 < np.mean(diffs) < 3 * spec.drift
    pages = df.iloc[spec.reposts + spec.chain_rows :]
    assert pages["text"].is_unique


def test_crawl_gold_pair_count():
    assert crawl_gold_pairs(4000) == 2400
    assert crawl_gold_pairs(23) == 2 * 6 + 3
    urls = [f"https://host{i % 97}.example/p/{i}" for i in range(4000)]
    labels = [gold_label("crawl_pipeline", u) for u in urls]
    assert pair_counts(labels, labels)[2] == crawl_gold_pairs(4000)


def test_simhash_probe_rows_brute_force():
    from types import SimpleNamespace

    from layers import simhash_probe_rows

    rng = np.random.default_rng(3)
    # few distinct 4-bit bands so buckets and 1-bit neighbours are common
    sigs = rng.integers(0, 1 << 16, 60).astype(np.int64)
    for multi in (False, True):
        for cap in (None, 4):
            cfg = SimpleNamespace(
                bits_per_band=4, bands=4, multi_probe=multi, max_bucket_size=cap
            )
            brute = 0
            for b in range(4):
                band = (sigs >> (4 * b)) & 15
                size = {k: int((band == k).sum()) for k in set(band.tolist())}
                kept = {k for k, n in size.items() if cap is None or n <= cap}
                flips = [0] + ([1, 2, 4, 8] if multi else [])
                for i, v in enumerate(band):
                    for f in flips:
                        key = int(v) ^ f
                        if key in kept:
                            brute += sum(
                                1 for j, u in enumerate(band) if u == key and j != i
                            )
            assert simhash_probe_rows(sigs, cfg) == brute


# --- generators under Spark ------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    from outcite_duplicate_detecting_spark.session import get_spark

    s = get_spark(
        cores=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("workload", ["crawl_pipeline", "recrawl_full"])
def test_generator_independent_of_partitions(spark, workload):
    import dataclasses

    import run

    w = dataclasses.replace(run.WORKLOADS[workload], n_docs=300)
    two, five = _rows(w.generate(spark, 7, parts=2)), _rows(w.generate(spark, 7, parts=5))
    assert two == five
    other = _rows(w.generate(spark, 8, parts=2))
    assert other != two
    assert len(other) == len(two) == 300


def test_crawl_gold_matches_texts(spark):
    from corpus import generate_crawl

    df = generate_crawl(spark, 40, seed=3, parts=2).toPandas()
    text = {int(u.rsplit("/", 1)[1]): t for u, t in zip(df["url"], df["text"])}
    for g in range(4):
        base = text[10 * g]
        assert text[10 * g + 2] == base  # exact copy
        assert base in text[10 * g + 3]  # wrapped copy
        for i in range(10 * g + 4, 10 * g + 10):
            assert base not in text[i]


# --- the command -----------------------------------------------------------


def _run(cwd: str, *args: str, env=None) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "crawl_pipeline"]
    return subprocess.run(
        cmd + list(args), cwd=cwd, env=env, capture_output=True, text=True, timeout=300
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_command_prints_every_declared_metric(trace):
    bench = _bench()
    declared = bench["per_layer" if trace == "1" else "end_to_end"]
    p = _run(ROOT, "--seed", "0", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)


def test_command_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH_DIR,
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".scratch", "out", "__pycache__"),
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = _run(str(tmp_path), "--seed", "0", "--seconds", "1", "--trace", "0", env=env)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
