"""Deterministic synthetic Common-Crawl-style corpus with planted duplicates.

Implements FIXTURES.md §1/§2: a ``pages(url, warc_ts, html, text, lang)``
table plus ``pages_gold(url, gold_cluster_id, dup_kind)`` labels. Planted
structure drives the recall ≥ 0.99 gate:

- exact-dup clusters (same text, different url/warc_ts)
- near-dup clusters (1–10% token edits; MinHash regime)
- fuzzy clusters (character-level noise; SimHash regime)
- substring dups (text A wholly contained in B, shared run ≥ 50 chars)
- hard negatives (same template vocabulary, Jaccard ≤ 0.5)
- one hot cluster holding ~5% of rows (exercises the oversize-bucket
  guard — reference analogue code/common.py:96)

Generation is pure numpy with a fixed seed; row content is a function of
the row index only, so the corpus is identical at any partitioning or
parallelism level.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LANGS = ["en", "en", "en", "en", "en", "en", "en", "de", "fr", "es", "it", "ru"]

_VOCAB_SIZE = 4000


def _vocab(rng: np.random.RandomState) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.randint(3, 10, size=_VOCAB_SIZE)
    return np.array(["".join(letters[rng.randint(0, 26, size=n)]) for n in lens])


@dataclass
class CorpusSpec:
    n_singletons: int = 600
    n_exact_clusters: int = 40
    n_near_clusters: int = 40
    n_fuzzy_clusters: int = 40
    n_substring_clusters: int = 40
    n_hard_negative_pairs: int = 30
    cluster_size: tuple[int, int] = (2, 4)
    hot_cluster_size: int = 0  # 0 → ~5% of total rows
    doc_tokens: tuple[int, int] = (50, 400)
    seed: int = 42


def generate_pages_pdf(spec: CorpusSpec) -> pd.DataFrame:
    """pandas DataFrame with columns url, warc_ts, html, text, lang,
    gold_cluster_id, dup_kind. Deterministic in ``spec``."""
    rng = np.random.RandomState(spec.seed)
    vocab = _vocab(rng)
    rows: list[tuple] = []  # (text, gold_cluster_id, dup_kind)
    cluster_id = 0

    def base_text() -> list[str]:
        n = rng.randint(*spec.doc_tokens)
        return list(vocab[rng.randint(0, _VOCAB_SIZE, size=n)])

    for _ in range(spec.n_singletons):
        rows.append((" ".join(base_text()), cluster_id, "singleton"))
        cluster_id += 1

    def cluster_sizes() -> int:
        return rng.randint(spec.cluster_size[0], spec.cluster_size[1] + 1)

    for _ in range(spec.n_exact_clusters):
        t = " ".join(base_text())
        for _ in range(cluster_sizes()):
            rows.append((t, cluster_id, "exact"))
        cluster_id += 1

    for _ in range(spec.n_near_clusters):
        toks = base_text()
        rows.append((" ".join(toks), cluster_id, "near"))
        for _ in range(cluster_sizes() - 1):
            t2 = list(toks)
            # ≤2.5% token edits keeps word-3-shingle Jaccard ≥ 0.8 vs the
            # base (each edit perturbs ≤3 shingles) — the FIXTURES.md contract
            n_edit = max(1, int(len(t2) * rng.uniform(0.005, 0.025)))
            for _ in range(n_edit):
                op = rng.randint(3)
                pos = rng.randint(0, len(t2))
                if op == 0:
                    t2[pos] = vocab[rng.randint(0, _VOCAB_SIZE)]
                elif op == 1 and len(t2) > spec.doc_tokens[0]:
                    del t2[pos]
                else:
                    t2.insert(pos, vocab[rng.randint(0, _VOCAB_SIZE)])
            rows.append((" ".join(t2), cluster_id, "near"))
        cluster_id += 1

    for _ in range(spec.n_fuzzy_clusters):
        toks = base_text()
        t = " ".join(toks)
        rows.append((t, cluster_id, "fuzzy"))
        for _ in range(cluster_sizes() - 1):
            chars = list(t)
            n_edit = max(1, len(chars) // 200)
            for _ in range(n_edit):
                pos = rng.randint(0, len(chars))
                if chars[pos] != " ":
                    chars[pos] = chars[pos].upper() if rng.randint(2) else "."
            rows.append(("".join(chars), cluster_id, "fuzzy"))
        cluster_id += 1

    for _ in range(spec.n_substring_clusters):
        inner = base_text()
        rows.append((" ".join(inner), cluster_id, "substring"))
        pre = list(vocab[rng.randint(0, _VOCAB_SIZE, size=rng.randint(5, 30))])
        post = list(vocab[rng.randint(0, _VOCAB_SIZE, size=rng.randint(5, 30))])
        rows.append((" ".join(pre + inner + post), cluster_id, "substring"))
        cluster_id += 1

    # hard negatives: moderate token overlap, Jaccard(word-shingles) ≤ 0.5
    for _ in range(spec.n_hard_negative_pairs):
        shared = base_text()
        half = len(shared) // 2
        a = shared[:half] + list(vocab[rng.randint(0, _VOCAB_SIZE, size=half)])
        b = shared[:half] + list(vocab[rng.randint(0, _VOCAB_SIZE, size=half)])
        rows.append((" ".join(a), cluster_id, "singleton"))
        cluster_id += 1
        rows.append((" ".join(b), cluster_id, "singleton"))
        cluster_id += 1

    hot = spec.hot_cluster_size or max(2, len(rows) // 19)
    t = " ".join(base_text())
    for _ in range(hot):
        rows.append((t, cluster_id, "exact"))
    cluster_id += 1

    n = len(rows)
    order = rng.permutation(n)
    texts = [rows[i][0] for i in order]
    gold = np.array([rows[i][1] for i in order], dtype=np.int64)
    kind = [rows[i][2] for i in order]
    host = rng.randint(0, 97, size=n)
    pdf = pd.DataFrame(
        {
            "url": [f"https://host{host[i]}.example/p/{i}" for i in range(n)],
            "warc_ts": pd.Timestamp("2020-01-01", tz="UTC") + pd.to_timedelta(np.arange(n), unit="m"),
            "html": [f"<html><body>{t}</body></html>".encode() for t in texts],
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in rng.randint(0, len(LANGS), size=n)],
            "gold_cluster_id": gold,
            "dup_kind": kind,
        }
    )
    return pdf


PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
    ]
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("gold_cluster_id", T.LongType(), False),
        T.StructField("dup_kind", T.StringType(), False),
    ]
)


def generate_pages(
    spark: SparkSession, spec: CorpusSpec | None = None, num_partitions: int = 0
) -> tuple[DataFrame, DataFrame]:
    """(pages, pages_gold) Spark DataFrames for ``spec`` (default CorpusSpec())."""
    spec = spec or CorpusSpec()
    pdf = generate_pages_pdf(spec)
    pages = spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]], schema=PAGES_SCHEMA
    )
    gold = spark.createDataFrame(
        pdf[["url", "gold_cluster_id", "dup_kind"]], schema=GOLD_SCHEMA
    )
    if num_partitions:
        pages = pages.repartition(num_partitions, "url")
    return pages, gold
