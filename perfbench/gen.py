"""Seeded input generator for the benchmark workloads.

Every table is written as parquet under ``<cache>/<workload>-<size>-s<seed>-<digest>/``
with the file names and columns that ``sources.load_table`` reads, so the
library's own loaders and the contract's query functions run unchanged on it:

- ``events``: ``event_id, ts, user_id, event_type, value, props`` (the
  testdata columns). ``user_id`` is the series key, ``ts`` a jittered
  1 s grid, ``value`` a few tones plus noise.
- ``documents``: ``doc_id, text, lang, source, n_chars`` with planted
  near-duplicate families and exact copies.
- ``lineitem``: ``l_orderkey, l_suppkey``, the edge table of a power-law
  link graph over fewer than 500 nodes (the contract's pagerank reads
  ``src = l_orderkey % 500, dst = l_suppkey % 500``).

The same (workload, size, seed) always gives byte-identical inputs. The
cache directory is also keyed by a digest of this file, so a changed
generator never reuses old inputs. A finished directory is marked by a
``DONE`` file, so a cached input is reused and a half-written one is
rebuilt.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Shortest series any workload generates. decimate's zero-phase IIR
# filter pads each series by 27 samples and fails the whole job on a
# shorter one (a known limit of the library, not of the inputs).
MIN_SERIES_LEN = 32

# Shape of each (workload, size): the dsp sizes hold the same total row
# count for both shapes; the corpus sizes are documents and graph nodes.
SIZES = {
    "dsp_long": {
        "full": {"series": 32, "length": 1024},
        "tiny": {"series": 4, "length": 256},
    },
    "dsp_ragged": {
        "full": {"rows": 32 * 1024},
        "tiny": {"rows": 4 * 256},
    },
    "corpus_pipeline": {
        "full": {"docs": 400, "nodes": 200},
        "tiny": {"docs": 120, "nodes": 60},
    },
}

_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch microseconds


def _pareto_quantiles(n: int, a: float) -> np.ndarray:
    """``n`` evenly spaced quantiles of numpy's Pareto (Lomax) law: the
    same multiset for every seed, so a seed changes which series gets
    which length but not the distribution of lengths."""
    u = (np.arange(n) + 0.5) / n
    return (1.0 - u) ** (-1.0 / a) - 1.0


def _series_lengths(rng: np.random.Generator, workload: str, shape: dict) -> np.ndarray:
    if workload == "dsp_long":
        return np.full(shape["series"], shape["length"], dtype=np.int64)
    # 32 * (1 + Pareto(1.5)), clipped to [32, 512], as many series as
    # bring the total to the row target
    def lengths_of(n: int) -> np.ndarray:
        return np.clip(32 * (1 + _pareto_quantiles(n, 1.5)), MIN_SERIES_LEN, 512).astype(np.int64)

    n = max(1, shape["rows"] // 80)
    while lengths_of(n).sum() < shape["rows"]:
        n += 1
    return rng.permutation(lengths_of(n))


def events_table(rng: np.random.Generator, lengths: np.ndarray) -> pa.Table:
    n_series = len(lengths)
    rows = int(lengths.sum())
    sid = np.repeat(np.arange(n_series, dtype=np.int64), lengths)
    starts = np.cumsum(lengths) - lengths
    j = np.arange(rows, dtype=np.int64) - np.repeat(starts, lengths)
    # jittered 1 s grid: sample j of a series sits within +-0.3 s of
    # start + j seconds, so timestamps are strictly increasing per series
    start_us = rng.integers(0, 3_600, n_series) * 1_000_000
    jitter_us = rng.integers(-300_000, 300_001, rows)
    ts_us = _T0_US + np.repeat(start_us, lengths) + j * 1_000_000 + jitter_us
    # two tones per series (cycles per sample in (0.01, 0.2)) plus noise;
    # rounded to 1e-6 so values survive any text round trip unchanged
    f1 = rng.uniform(0.01, 0.2, n_series)
    f2 = rng.uniform(0.01, 0.2, n_series)
    a2 = rng.uniform(0.2, 0.8, n_series)
    tt = j.astype(np.float64)
    value = (
        np.sin(2 * np.pi * np.repeat(f1, lengths) * tt)
        + np.repeat(a2, lengths) * np.sin(2 * np.pi * np.repeat(f2, lengths) * tt)
        + 0.3 * rng.standard_normal(rows)
    )
    value = np.round(value, 6)
    kinds = np.array(["view", "click", "error", "purchase"], dtype=object)
    props = pc.binary_join_element_wise(
        "{\"k\": ", pa.array(rng.integers(0, 100, rows)).cast(pa.string()), "}", ""
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts_us.astype("datetime64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(sid),
            "event_type": pa.array(kinds[rng.integers(0, 4, rows)], type=pa.string()),
            "value": pa.array(value),
            "props": props,
        }
    )


def _vocabulary(rng: np.random.Generator, n_words: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(2, 9))
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return np.array(sorted(words), dtype=object)


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """ASCII documents over a Zipf vocabulary. Every third document is a
    copy of an earlier original: four in five with 5% of their words
    replaced (near duplicates), the rest verbatim (exact duplicates).
    Lengths run evenly over 20..79 words in a seeded order."""
    vocab = _vocabulary(rng, 600)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    lengths = rng.permutation(20 + np.arange(n_docs) % 60)
    texts: list[str] = []
    roots: list[int] = []
    for i in range(n_docs):
        if i % 3 == 2:
            words = np.array(texts[roots[int(rng.integers(0, len(roots)))]].split(" "), dtype=object)
            if i % 15 != 14:
                swap = rng.choice(len(words), max(1, round(0.05 * len(words))), replace=False)
                words[swap] = vocab[rng.choice(len(vocab), len(swap), p=p)]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.choice(len(vocab), int(lengths[i]), p=p)]))
            roots.append(i)
    langs = np.array(["en", "de", "fr"], dtype=object)
    sources = np.array(["web", "books", "wiki"], dtype=object)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs[rng.integers(0, 3, n_docs)], type=pa.string()),
            "source": pa.array(sources[rng.integers(0, 3, n_docs)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def edges_table(rng: np.random.Generator, n_nodes: int) -> pa.Table:
    """Directed power-law link graph: a tenth of the nodes dangling (no
    out-edges), the others with out-degrees 1 + Pareto(1.2) (quantiles,
    capped at 40) and destinations drawn with Zipf popularity. Duplicate
    edges are kept; the contract's pagerank query takes ``distinct``."""
    pop = rng.permutation(1.0 / np.arange(1, n_nodes + 1) ** 1.2)
    pop /= pop.sum()
    src_nodes = np.sort(rng.permutation(n_nodes)[: n_nodes - n_nodes // 10])
    deg = np.minimum(1 + _pareto_quantiles(len(src_nodes), 1.2).astype(np.int64), 40)
    src = np.repeat(src_nodes, rng.permutation(deg))
    dst = rng.choice(n_nodes, len(src), p=pop)
    return pa.table(
        {
            "l_orderkey": pa.array(src.astype(np.int64)),
            "l_suppkey": pa.array(dst.astype(np.int64)),
        }
    )


def generate(
    workload: str, size: str, seed: int, cache: str
) -> tuple[str, dict[str, pa.Table], dict]:
    """Write (or reuse) the inputs of one workload. Returns the directory,
    the tables themselves (the output checks' source of truth) and the
    input sizes (rows per table, series count)."""
    with open(__file__, "rb") as f:
        digest = hashlib.sha1(f.read()).hexdigest()[:12]
    out = os.path.join(cache, f"{workload}-{size}-s{seed}-{digest}")
    shape = SIZES[workload][size]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    tables: dict[str, pa.Table] = {}
    info: dict = {}
    if workload == "corpus_pipeline":
        tables["documents"] = documents_table(rng, shape["docs"])
        tables["lineitem"] = edges_table(rng, shape["nodes"])
    else:
        lengths = _series_lengths(rng, workload, shape)
        tables["events"] = events_table(rng, lengths)
        info["series"] = int(len(lengths))
        info["min_series_len"] = int(lengths.min())
    info.update({f"{name}_rows": t.num_rows for name, t in tables.items()})
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for name, t in tables.items():
            pq.write_table(t, os.path.join(out, f"{name}.parquet"))
        open(os.path.join(out, "DONE"), "w").close()
    return out, tables, info
