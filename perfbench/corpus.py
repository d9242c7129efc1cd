"""Seeded input corpora and their planted gold for the two workloads.

Every row is a pure function of (seed, row index), so a corpus is the same
set of rows at any partition count, and the gold label of a row can be read
back from its url alone. Both corpora use the ``pages`` schema the pipeline
takes: (url, warc_ts, html, text, lang).

crawl     the package's own ``sources/bench_corpus.py`` crawl. Row i sits in
          cluster i // 10 when i % 10 <= 3 (base, near-dup, exact copy,
          wrapped copy), else it is a singleton.
recrawl   built here. A url path tells its role:
          /r/<i>  exact reposts of one text (the hot exact cluster)
          /a/<c>  recrawl chain c: versions 0..L-1 share the url, differ by
                  warc_ts, and each version drifts from the previous one
          /p/<i>  distinct pages that share only their host's template
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

_M64 = (1 << 64) - 1
_VOCAB_N = 30000
_SYL = np.array(
    ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "we", "xi", "yo", "za", "be", "do", "fi"]
)


def mix64(x):
    """splitmix64 finalizer over uint64 arrays (or a Python int)."""
    scalar = isinstance(x, int)
    z = np.asarray(x & _M64 if scalar else x, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return int(z) if scalar else z


def _stream(key: int, n: int) -> np.ndarray:
    """n pseudo-random uint64 values, a pure function of key."""
    base = np.uint64(mix64(key))
    with np.errstate(over="ignore"):
        return mix64(np.arange(n, dtype=np.uint64) + base)


def _vocab() -> np.ndarray:
    i = np.arange(_VOCAB_N)
    return np.char.add(
        np.char.add(_SYL[i % 16], _SYL[(i // 16) % 16]),
        np.char.add(_SYL[(i // 256) % 16], (i // 4096).astype(str)),
    )


@dataclass(frozen=True)
class RecrawlSpec:
    """Shape of the recrawl corpus. Row order: reposts, chain versions,
    template pages."""

    n_docs: int = 4000
    reposts: int = 60  # copies of one text: the hot exact cluster
    chains: int = 150
    versions: int = 8  # each version a near-dup of the previous one
    drift: float = 0.025  # share of tokens rewritten per version
    hosts: int = 10
    hot_host_share: float = 0.3  # host 0's share of chains and pages

    @property
    def chain_rows(self) -> int:
        return self.chains * self.versions

    @property
    def pages(self) -> int:
        return self.n_docs - self.reposts - self.chain_rows

    def gold_pairs(self) -> int:
        c2 = lambda n: n * (n - 1) // 2  # noqa: E731
        return c2(self.reposts) + self.chains * c2(self.versions)


def _host(spec: RecrawlSpec, seed: int, key: int) -> int:
    u = mix64(seed * 7919 + key) % 10_000
    if u < spec.hot_host_share * 10_000:
        return 0
    return 1 + int(u % (spec.hosts - 1))


class _RecrawlText:
    def __init__(self, spec: RecrawlSpec, seed: int):
        self.spec, self.seed = spec, seed
        self.vocab = _vocab()

    def words(self, toks: np.ndarray) -> list[str]:
        return list(self.vocab[(toks % np.uint64(_VOCAB_N)).astype(np.int64)])

    def template(self, host: int) -> tuple[list[str], list[str]]:
        # per-host header/footer: 12-27 tokens each, shared by every page
        # of the host. Long enough to put winnow fingerprints in common.
        r = _stream(self.seed * 131 + host, 4)
        head_n, foot_n = 12 + int(r[0] % 16), 12 + int(r[1] % 16)
        return (
            self.words(_stream(self.seed * 131 + host + 10_000, head_n)),
            self.words(_stream(self.seed * 131 + host + 20_000, foot_n)),
        )

    def body(self, key: int) -> np.ndarray:
        n = 60 + int(mix64(key) % 200)
        return _stream(key, n)

    def row(self, i: int) -> tuple[str, int, str]:
        """(url, warc_ts offset in hours, text) of row i."""
        spec, seed = self.spec, self.seed
        if i < spec.reposts:
            host = 1 + i % (spec.hosts - 1)
            text = " ".join(self.words(self.body(seed * 1_000_003 + 7)))
            return f"https://host{host}.example/r/{i}", i, text
        j = i - spec.reposts
        if j < spec.chain_rows:
            c, v = divmod(j, spec.versions)
            host = _host(spec, seed, c)
            toks = self.body(seed * 1_000_003 + 1_000 + c)
            # position p is rewritten from version ceil(u_p / drift) on, so
            # consecutive versions differ in ~drift of the tokens and the
            # drift accumulates along the chain
            u = (_stream(seed * 977 + c, len(toks)) % np.uint64(1_000_000)).astype(
                np.float64
            ) / 1e6
            moved = u < v * spec.drift
            toks[moved] = _stream(seed * 983 + c, len(toks))[moved]
            head, foot = self.template(host)
            text = " ".join(head + self.words(toks) + foot)
            return f"https://host{host}.example/a/{c}", 24 * 30 * v + c % 24, text
        k = j - spec.chain_rows
        host = _host(spec, seed, 1_000_000 + k)
        head, foot = self.template(host)
        body = self.words(self.body(seed * 1_000_003 + 5_000_000 + k))
        return f"https://host{host}.example/p/{k}", k % 8760, " ".join(head + body + foot)


def recrawl_rows(spec: RecrawlSpec, seed: int, ids: np.ndarray):
    import pandas as pd

    gen = _RecrawlText(spec, seed)
    rows = [gen.row(int(i)) for i in ids]
    texts = [r[2] for r in rows]
    return pd.DataFrame(
        {
            "url": [r[0] for r in rows],
            "warc_ts": pd.Timestamp("2021-01-01")
            + pd.to_timedelta([r[1] for r in rows], unit="h"),
            "html": [t.encode()[:64] for t in texts],
            "text": texts,
            "lang": ["en"] * len(rows),
        }
    )


def generate_recrawl(spark, spec: RecrawlSpec, seed: int, parts: int):
    """Spark DataFrame of the recrawl corpus (mapInPandas over a range, so
    generation runs in parallel on the executors)."""

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield recrawl_rows(spec, seed, pdf["id"].to_numpy())

    return spark.range(0, spec.n_docs, 1, parts).mapInPandas(gen, schema=PAGES_DDL)


def crawl_seed(seed: int) -> int:
    """bench_corpus keys clusters by group * 2 + seed, so nearby seeds would
    share most clusters; spreading the seed keeps seeds independent."""
    return mix64(seed * 0x2545F491 + 17) % (1 << 31)


def generate_crawl(spark, n_docs: int, seed: int, parts: int):
    from outcite_duplicate_detecting_spark.sources.bench_corpus import (
        generate_bench_pages,
    )

    return generate_bench_pages(spark, n_docs, seed=crawl_seed(seed), parts=parts)


# --- gold ------------------------------------------------------------------


def gold_label(workload: str, url: str) -> str:
    """Planted cluster of a row, from its url."""
    path = url.split(".example/", 1)[1]
    kind, num = path.split("/")
    if workload == "crawl_pipeline":
        i = int(num)
        return f"g{i // 10}" if i % 10 <= 3 else f"s{i}"
    if kind == "r":
        return "repost"
    if kind == "a":
        return f"chain{num}"
    return f"page{num}"


def crawl_gold_pairs(n_docs: int) -> int:
    full, rest = divmod(n_docs, 10)
    tail = min(rest, 4)
    return full * 6 + tail * (tail - 1) // 2


def pair_counts(pred: list, gold: list) -> tuple[int, int, int]:
    """(true pairs, predicted pairs, gold pairs) by sum-of-squares counting
    over the contingency table of predicted cluster x gold cluster."""
    from collections import Counter

    c2 = lambda n: n * (n - 1) // 2  # noqa: E731
    both = sum(c2(n) for n in Counter(zip(pred, gold)).values())
    return both, sum(c2(n) for n in Counter(pred).values()), sum(
        c2(n) for n in Counter(gold).values()
    )
