"""Engine-portable hash / tokenize expression builders.

Every helper here returns a Catalyst Column built purely from JVM
builtins (``md5``/``conv``/``split``/higher-order array functions), so
(a) the hot path never leaves whole-stage codegen, and (b) the exact
same value is reproducible in any ANSI-ish SQL engine (the DuckDB
correctness oracle recomputes these byte-for-byte).

Hash design: ``md5`` is the only hash primitive both engines share, so
numeric hashes are "first K hex chars of md5, parsed base-16". 15 hex
chars = 60 bits < 2^63 keeps the value inside a signed BIGINT in both
engines. Seeded variants prepend ``"<seed>|"`` to the input.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

__all__ = [
    "tokens",
    "word_shingles",
    "h60",
    "h48",
    "h32",
    "bucket",
    "seeded_md5",
    "minhash_coeffs",
    "MINHASH_P",
    "spread",
]


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def spread(df, *cols):
    """Repartition a CPU-heavy pipeline's input so per-row work uses
    every core.

    A single small parquet file scans as ONE partition (parquet splits
    by row group), which would serialize all downstream tokenize/hash/
    decode work onto one core regardless of cluster size. When the scan
    yields fewer partitions than the default parallelism, hash-
    repartition on ``cols`` (deterministic, skew-free for unique ids);
    at full scale inputs arrive pre-split and this is a no-op. The
    shuffle moves the raw rows once — strictly cheaper than running the
    per-row pipeline serially.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # Decide from the scan's file footprint, NOT df.rdd.getNumPartitions():
    # materializing the RDD compiles the physical plan on the driver
    # (~1 s per call — it dominated bench plan-build time). inputFiles()
    # only touches the analyzed plan's file index. A frame that is not a
    # file scan (or whose files already split into >= target partitions
    # under maxPartitionBytes) is left alone — at full scale inputs
    # arrive pre-split and this stays a no-op.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return df
    max_bytes = _size_bytes(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    import os

    total = 0
    for f in files:
        if not f.startswith("file:"):
            total = -1  # remote store: size unknown, fall back to file count
            break
        try:
            total += os.path.getsize(f[len("file:"):])
        except OSError:
            total = -1
            break
    est = max(len(files), -(-total // max_bytes)) if total >= 0 else len(files)
    if est >= target:
        return df
    return df.repartition(target, *[_c(c) for c in cols]) if cols else df.repartition(target)


_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _size_bytes(v, default: int = 134_217_728) -> int:
    """Parse Spark's human-readable byte-size strings (``128m``,
    ``256MB``, ``134217728``) the way Spark itself accepts them:
    optional 1024-based suffix b/k(b)/m(b)/g(b)/t(b)/p(b), any case.
    Falls back to ``default`` on anything unparseable — this feeds a
    partitioning heuristic, which must never turn into a hard failure."""
    s = str(v).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", s)
    if not m:
        return default
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def tokens(text) -> Column:
    """Whitespace tokens with empties dropped (`split` collapses nothing,
    so consecutive spaces yield '' entries we filter out)."""
    return F.filter(F.split(_c(text), " "), lambda t: t != F.lit(""))


def word_shingles(toks, k: int = 3) -> Column:
    """Distinct word k-grams joined by single spaces; empty array when the
    document has fewer than k tokens."""
    toks = _c(toks)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        ),
    )
    empty = F.array().cast("array<string>")
    return F.when(n >= k, F.array_distinct(grams)).otherwise(empty)


def h60(col) -> Column:
    """60-bit signed-BIGINT hash: first 15 hex chars of md5, base-16.

    DuckDB equivalent: ``('0x' || substring(md5(x), 1, 15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")


def h48(col) -> Column:
    """48-bit variant (first 12 hex chars) for SimHash bit votes."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 12), 16, 10).cast("bigint")


def seeded_md5(seed: int, col) -> Column:
    """md5 of ``"<seed>|<value>"`` as a hex string; min() over these is a
    valid MinHash (uniform order statistics over the hex ordering)."""
    return F.md5(F.concat_ws("|", F.lit(str(seed)), _c(col)))


def h32(col) -> Column:
    """32-bit hash: first 8 hex chars of md5, base-16 (fits a signed
    BIGINT with room for the affine-permutation arithmetic below).

    DuckDB equivalent: ``('0x' || substring(md5(x), 1, 8))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("bigint")


def bucket(n: int, *cols) -> Column:
    """Partition bucket ``pmod(xxhash64(cols), n)`` in ``[0, n)``: the
    JVM-native hash for skew-splitting exchanges. Spark-only (no oracle
    recomputes it), so it may pick rows' tasks but never their values.
    """
    return F.pmod(F.xxhash64(*[_c(c) for c in cols]), F.lit(n))


# affine MinHash permutations over the 32-bit hash space:
# pi_i(x) = (A_i * x + B_i) mod P. P is the smallest prime > 2^32;
# A_i < 2^30 keeps A_i * x < 2^62 (no BIGINT overflow in either engine).
# A/B are md5-derived so both engines inline identical literals.
MINHASH_P = 4_294_967_311


def minhash_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) pairs for n affine permutations."""
    import hashlib

    out = []
    for i in range(n):
        ha = hashlib.md5(f"minhash-a|{i}".encode()).hexdigest()
        hb = hashlib.md5(f"minhash-b|{i}".encode()).hexdigest()
        a = (int(ha[:8], 16) % ((1 << 30) - 1)) | 1  # odd, < 2^30
        b = int(hb[:8], 16) % MINHASH_P
        out.append((a, b))
    return out
