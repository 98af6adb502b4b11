"""Deterministic dataset splitting and stratified sampling.

A training-data pipeline needs train/val/test assignment that is (a)
stable across reruns and cluster layouts — an id always lands in the
same split, so re-processing never leaks val documents into train —
(b) computable without any global state, and (c) auditable by an
independent engine. A salted-hash uniform gives all three: the split
is a pure per-row expression (scale-free, no shuffle, no sampling
state), and the md5 construction reproduces bit-for-bit in DuckDB
(pipeline/hashes.py design note).

No reference analog (the reference has no datasets, SURVEY.md §2.3);
this is engine-extension surface like the rest of the pipeline.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..core import _fields_of, map_groups
from .hashes import _c, bucket, h60

__all__ = [
    "cap_per_group",
    "robust_zscore",
    "hash_uniform",
    "split_assign",
    "split_assign_clustered",
    "stratified_sample",
    "mix_datasets",
    "sample_negatives",
    "group_quantiles",
    "quantile_normalize",
    "kfold_assign",
    "class_weights",
    "pack_sequences",
    "weighted_sample",
    "temperature_mix",
]

# 16^15 — the number of 15-hex-char values; dividing the h60 hash by
# this maps it to [0, 1) with ~2^-60 granularity
_H60_SPAN = float(16**15)


def _u01(parts: Sequence[Column]) -> Column:
    """[0, 1) uniform over the salted parts tuple: the h60 construction,
    which reproduces bit-for-bit in DuckDB (the oracle gate verifies
    it), boundary rounding included (see :func:`hash_uniform`)."""
    return h60(F.concat_ws("|", *parts)) / F.lit(_H60_SPAN)


def hash_uniform(col, salt: str = "") -> Column:
    """Deterministic uniform in [0, 1) from ``md5(salt|value)``.

    DuckDB equivalent (the oracle recomputes it exactly)::

        ('0x' || substring(md5(salt || '|' || x), 1, 15))::BIGINT / 16.0^15

    Boundary semantics are DuckDB's BIGINT/DOUBLE divide rounding,
    verbatim: hash values within ~2^7 of 2^60-1 round UP to exactly
    ``u == 1.0`` (~1e-16 of ids), so those ids are deterministically
    dropped even at rate=1.0, and ``u == 0.0`` is reachable (15 leading
    zero hex chars, ~1e-18 of ids). A Spark-side clamp would break
    byte parity with every shipped oracle, so consumers that cannot
    tolerate a boundary guard locally: :func:`weighted_sample` sends any ``u``
    outside the open interval (0, 1) to the losing key (``_ares_key``).

    md5 is the only hash. A JVM-native hash was ~12x cheaper per row,
    but no other engine reproduces it, and at the 135 M-row tier it
    bought only 1.13-1.15x end to end (``tools/hash_floor_ab.py`` and
    ``tools/knob_tier_ab.py`` at 71b8918).
    """
    return _u01([F.lit(salt), _c(col)])


def split_assign(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    weights: Mapping[str, float] | None = None,
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative weight ranges
    over the salted-hash uniform — e.g. ``{"train": .98, "val": .01,
    "test": .01}`` sends u < 0.98 to train, u < 0.99 to val, the rest
    to test. Weights must sum to 1 (±1e-9). Pure projection: no
    shuffle, no state, stable under any partitioning, and changing the
    salt produces an independent re-split.
    """
    weights = dict(weights or {"train": 0.98, "val": 0.01, "test": 0.01})
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    if len(weights) < 2:
        raise ValueError("need at least two splits")
    u = hash_uniform(id_col, salt=salt)
    names = list(weights)
    expr = F.lit(names[-1])
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += weights[name]
        conds.append((name, cum))
    for name, hi in reversed(conds):
        expr = F.when(u < F.lit(hi), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def split_assign_clustered(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    weights: Mapping[str, float] | None = None,
    salt: str = "split",
    out: str = "split",
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 30,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every member of a
    near-duplicate cluster lands in the SAME split.

    Plain :func:`split_assign` hashes the doc id, so two near-copies
    can straddle train and test — the classic benchmark-contamination
    hole (the eval set "tests" memorized training text). Here the
    hash input is the CLUSTER id instead: transitive components over
    ``pairs`` (the same min-label CC dedup uses), singletons hashing
    their own id, so the split decision is constant across each
    cluster while unclustered docs split exactly as before.

    Output: the input columns + ``cluster_id`` + ``out``. Same
    determinism contract as split_assign (rerun/partitioning-stable,
    salt-independent resplits, DuckDB-reproducible). Scale shape: the
    component frame is pair-node-sized; the corpus pays ONE keyed
    equi-join (AQE broadcasts it when the duplicate graph is small)
    and the split itself stays a pure projection. Raises
    ``RuntimeError`` when the components do not converge in
    ``max_iter`` rounds (see :func:`.dedup.duplicate_clusters`).
    """
    from .dedup import duplicate_clusters

    if "cluster_id" in df.columns:
        # the equi-join below would otherwise die with
        # AMBIGUOUS_REFERENCE at the coalesce — a natural composition
        # hazard, since duplicate_clusters/keep_best both emit
        # cluster_id (ADVICE r11 #1)
        raise ValueError(
            "split_assign_clustered emits a 'cluster_id' output column "
            "but the input already has one — drop or rename it first "
            "(duplicate_clusters/keep_best output carries cluster_id)"
        )
    clusters = duplicate_clusters(
        pairs, a_col=a_col, b_col=b_col, max_iter=max_iter
    ).withColumnRenamed("doc_id", "_cc_id")
    d = df.join(
        clusters, df[id_col] == clusters["_cc_id"], "left"
    ).drop("_cc_id")
    d = d.withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col).cast("bigint"))
    )
    return split_assign(
        d, id_col="cluster_id", weights=weights, salt=salt, out=out
    )


def mix_datasets(
    sources: Mapping[str, DataFrame],
    rates: Mapping[str, float],
    *,
    id_col: str = "doc_id",
    salt: str = "mix",
    source_col: str = "source",
) -> DataFrame:
    """Weighted domain mixture: the corpus-assembly step that samples
    each source dataset at its own rate and unions the survivors,
    tagging provenance — e.g. ``rates={"web": 0.3, "code": 1.0}``
    keeps 30% of web docs and all code docs.

    Deterministic and rerun-stable like everything in this module: the
    keep decision is ``hash_uniform(id, salt|source) < rate`` — a pure
    per-row expression, no shuffle, no sampling state, reproducible in
    DuckDB. A rate > 1 raises (upsampling/duplication is a different
    operation — repeat the source in ``sources`` under distinct names
    if oversampling is intended).

    Output: the common columns of all sources plus ``source_col``.
    """
    if set(rates) - set(sources):
        raise KeyError(f"rates for unknown sources: {sorted(set(rates) - set(sources))}")
    out = None
    for name, df in sources.items():
        rate = float(rates.get(name, 1.0))
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0, 1], got {rate}")
        part = df.filter(
            hash_uniform(id_col, salt=f"{salt}|{name}") < F.lit(rate)
        ).withColumn(source_col, F.lit(name))
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("no sources given")
    return out


def stratified_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    fractions: Mapping[str, float] | str,
    stratum_col: str | None = None,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff its salted-
    hash uniform falls below its stratum's fraction. ``fractions`` maps
    stratum value → keep fraction (rows whose stratum is unlisted are
    dropped); pass a single float-able string with ``stratum_col=None``
    for a flat sample. Unlike ``DataFrame.sample`` this is exact-by-id:
    the same ids survive every rerun, any partitioning, any engine.
    """
    u = hash_uniform(id_col, salt=salt)
    if stratum_col is None:
        frac = float(fractions)  # type: ignore[arg-type]
        return df.filter(u < F.lit(frac))
    frac_col = None
    for value, frac in fractions.items():  # type: ignore[union-attr]
        cond = F.col(stratum_col) == F.lit(value)
        frac_col = (
            F.when(cond, F.lit(float(frac)))
            if frac_col is None
            else frac_col.when(cond, F.lit(float(frac)))
        )
    frac_col = frac_col.otherwise(F.lit(0.0))
    return df.filter(u < frac_col)


def pack_sequences(
    df: DataFrame,
    *,
    id_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    partitions: int | None = None,
    salt: str = "pack",
) -> DataFrame:
    """Pack variable-length chunks into fixed token budgets — the
    sequence-packing step that turns curated chunks into dense training
    rows (padding waste is the metric: a naive one-chunk-per-row
    layout wastes ``1 − mean(len)/budget`` of every batch).

    Distributed shape: chunks hash into ``partitions`` independent
    packing domains (deterministic salted md5 — rerun/partitioning
    stable), and each domain runs first-fit-decreasing in one Arrow
    batch. FFD is within 22% of optimal in the worst case and ~5% in
    practice; cross-domain packing would need a global sort whose
    coordination cost buys almost nothing at corpus scale, so domains
    ARE the parallelism. Chunks longer than ``budget`` get their own
    singleton pack (flagged by ``overflow``) rather than being dropped.

    Cost note: FFD's first-fit scan is O(chunks · open packs) per
    domain — size ``partitions`` so a domain holds ~10⁵ chunks (at
    corpus scale that means partitions in the thousands, which is
    exactly what the cluster wants anyway).

    Output: ``(id, pack_id, pack_pos, pack_fill, overflow)`` —
    ``pack_id`` is globally unique (domain-prefixed), ``pack_fill``
    the pack's total tokens, one row per input chunk. A chunk with a
    NULL ``n_tokens`` keeps its row with NULL ``pack_id``, ``pack_pos``,
    ``pack_fill`` and ``overflow``, and takes no part in the packing.
    """
    import numpy as np
    import pandas as pd

    budget = int(budget)
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    spark_df = df.select(
        F.col(id_col), F.col(tokens_col).cast("long").alias("__nt__")
    )
    n_dom = (
        int(partitions)
        if partitions is not None
        else spark_df.sparkSession.sparkContext.defaultParallelism
    )
    dom = F.pmod(
        h60(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(n_dom),
    )
    work = spark_df.withColumn("__dom__", dom)

    def pack(pdf: pd.DataFrame) -> dict:
        # first-fit-decreasing, ties broken by id for determinism; NULL
        # sizes sort last and get no pack
        pdf = pdf.sort_values(
            ["__nt__", id_col], ascending=[False, True], kind="mergesort"
        )
        n = int(pdf["__nt__"].count())
        sizes = pdf["__nt__"].to_numpy()[:n].astype(np.int64)
        fills: list[int] = []
        assign = np.empty(n, dtype=np.int64)
        pos = np.empty(n, dtype=np.int32)
        for i, s in enumerate(sizes):
            for j, f0 in enumerate(fills):
                if f0 + s <= budget:
                    assign[i] = j
                    fills[j] = f0 + s
                    break
            else:
                assign[i] = len(fills)
                fills.append(int(s))
        # positions within each pack in assignment order
        counters: dict[int, int] = {}
        for i in range(n):
            j = int(assign[i])
            pos[i] = counters.get(j, 0)
            counters[j] = pos[i] + 1
        fill_arr = np.array([fills[j] for j in assign], dtype=np.int64)
        packed = {
            "pack_id": int(pdf["__dom__"].iat[0]) * 1_000_000_000 + assign,
            "pack_pos": pos,
            "pack_fill": fill_arr,
            "overflow": sizes > budget,
        }
        # the NULL-size rows keep their row, with NULL pack columns
        return {
            id_col: pdf[id_col].to_numpy(),
            **{c: pd.Series(v).reindex(range(len(pdf))) for c, v in packed.items()},
        }

    fields = {
        **_fields_of(df, [id_col]),
        "pack_id": "bigint",
        "pack_pos": "int",
        "pack_fill": "bigint",
        "overflow": "boolean",
    }
    return map_groups([work], ["__dom__"], pack, fields)


def cap_per_group(
    df: DataFrame,
    *,
    by,
    id_col: str = "doc_id",
    n: int,
    salt: str = "cap",
    keep_col: str | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by the salted-hash
    uniform over ``id_col`` — the per-domain / per-source cap every
    curation pipeline applies so one crawl host cannot dominate the
    mixture.

    Determinism contract (the same one ``split_assign`` makes): the
    kept set depends only on (ids, salt, n) — stable across reruns,
    partitionings, and INCREMENTAL growth in the sense that a row's
    RANKING KEY never changes, so adding new rows to a group can only
    displace the highest-keyed survivors, never reshuffle the order.
    One window shuffle on the group keys; ties cannot occur (the
    ranking key falls back to the id itself).

    ``keep_col=None`` filters to the kept rows; a column name instead
    FLAGS them (keep_col=True/False) so downstream stages can audit
    what a cap dropped.

    Scale shape (r7): a single ``row_number`` window partitioned on
    the group keys serializes each group's sort onto ONE reducer — at
    100 TB a per-domain cap with a handful of hot domains is exactly
    the skew case. The filter path therefore runs TWO-PHASE top-n:
    phase 1 ranks within (deterministic hash bucket × group)
    — parallelism = buckets × groups — and prunes to each bucket's
    local top-``n`` (a superset of the global top-``n`` for any
    bucketing); phase 2 runs the exact window over the ≤ buckets·n
    survivors per group. The kept set is identical to the one-window
    answer because the ranking key is row-intrinsic. The flag path
    must rank EVERY row, so it keeps the one-window plan (audit mode —
    not the hot path).
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    by = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*by).orderBy(
        hash_uniform(id_col, salt=salt).asc(),
        F.col(id_col).asc(),
    )
    if keep_col is not None:
        ranked = df.withColumn("_rk", F.row_number().over(w))
        return ranked.withColumn(keep_col, F.col("_rk") <= n).drop("_rk")
    buckets = max(2, df.sparkSession.sparkContext.defaultParallelism)
    # explicit fixed-width repartition (REPARTITION_BY_NUM): the md5
    # ranking + sort is CPU-heavy per row, and AQE's byte-based
    # coalescing would fold the whole phase onto 1-2 tasks at bench
    # sizes (the istft lesson, tests/test_plans.py kernel-width lock) —
    # the window then reuses this exchange, no second shuffle
    pb = bucket(buckets, id_col)
    wl = Window.partitionBy(pb, *by).orderBy(
        hash_uniform(id_col, salt=salt).asc(),
        F.col(id_col).asc(),
    )
    pruned = (
        df.repartition(buckets, pb, *[F.col(c) for c in by])
        .withColumn("_lrk", F.row_number().over(wl))
        .filter(F.col("_lrk") <= n)
        .drop("_lrk")
    )
    ranked = pruned.withColumn("_rk", F.row_number().over(w))
    return ranked.filter(F.col("_rk") <= n).drop("_rk")


def kfold_assign(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 5,
    salt: str = "fold",
    out: str = "fold",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    ``h60(salt|id) mod k`` — the split_assign determinism contract
    (rerun/partitioning-stable, engine-reproducible, disjoint and
    exhaustive folds) with uniform fold sizes in expectation. Pure
    projection, no shuffle."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    fold = F.pmod(
        h60(F.concat_ws("|", F.lit(salt), _c(id_col).cast("string"))),
        F.lit(k),
    )
    return df.withColumn(out, fold.cast("int"))


def class_weights(
    df: DataFrame,
    *,
    label_col: str,
    smoothing: float = 0.0,
) -> DataFrame:
    """Inverse-frequency class weights for imbalanced-label training:
    ``w_c = n_total / (n_classes · (n_c + smoothing))`` — the standard
    sklearn-style "balanced" weighting, computed with ONE tiny
    aggregation (classes × 1 row; broadcast-join it back onto the
    corpus). Output: ``(label, n, weight)``."""
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # totals as a broadcast 1-row aggregate (the established scalar
    # pattern) — a global window would funnel the tiny class table
    # through one partition and spam the single-partition warning
    totals = counts.agg(
        F.sum("n").alias("_tot"), F.count(F.lit(1)).alias("_ncls")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "label",
        "n",
        (
            F.col("_tot")
            / (F.col("_ncls") * (F.col("n") + F.lit(float(smoothing))))
        ).alias("weight"),
    )


def quantile_normalize(
    df: DataFrame,
    *,
    value,
    by=None,
    out: str | None = None,
) -> DataFrame:
    """Rank-uniformize a column within each group: ``percent_rank``
    maps values onto [0, 1] by their order statistics — the
    distribution-free normalization for heavy-tailed features
    (lengths, perplexities, frequencies) before mixing or thresholding
    across heterogeneous sources.

    One ordered-window exchange per group (ties share a rank, the
    standard SQL ``percent_rank`` definition both engines implement
    identically). For a gaussian target compose with a probit on the
    caller's side; the rank is the distributed part.
    """
    from pyspark.sql import Window

    keys = [by] if isinstance(by, str) else list(by or [])
    out = out or f"{value}_qn"
    w = Window.partitionBy(*keys).orderBy(F.col(value).asc())
    return df.withColumn(out, F.percent_rank().over(w))


def group_quantiles(
    df: DataFrame,
    *,
    value,
    qs: Sequence[float],
    by=None,
) -> DataFrame:
    """EXACT per-group quantiles (linear interpolation between order
    statistics — the numpy/pandas/DuckDB ``quantile_cont`` definition,
    which Spark's ``percentile`` aggregate matches bit-for-bit).

    Scale note: exact percentile buffers each group's values on its
    reducer — right for the many-small-groups shape (per-user, per-
    domain stats) where a group fits in memory, and deliberately NOT
    for global quantiles over billions of rows: that is what the
    bounded-state histogram sketch is for
    (:func:`~xarray_scipy_spark.pipeline.sketches.histogram_sketch` /
    ``quantile_from_histogram``). The two are the exact/approximate
    ends of the same question, pick by group size.

    Output: ``[*by, q, quantile]``, one row per (group, q).
    """
    qs = [float(q) for q in qs]
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs must be fractions in [0, 1], got {qs}")
    keys = [by] if isinstance(by, str) else list(by or [])
    arr = ", ".join(repr(q) for q in qs)
    g = df.groupBy(*keys).agg(
        F.expr(f"percentile(`{value}`, array({arr}))").alias("_qv")
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(q) for q in qs]).alias("q"), F.col("_qv").alias("quantile")
    )
    return g.select(*keys, F.explode(pairs).alias("_p")).select(
        *keys, F.col("_p.q").alias("q"), F.col("_p.quantile").alias("quantile")
    )


def sample_negatives(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    k: int = 4,
    salt: str = "neg",
    n_ids: int | None = None,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Deterministic negative-pair mining for contrastive / preference
    training: for every anchor row, ``k`` pseudo-random OTHER ids
    drawn by salted hash — the pair table a contrastive embedding or
    DPO-style pipeline joins its features onto. When ``n_ids`` is
    omitted it derives in-plan (a broadcast 1-row ``max(id)+1``
    aggregate — no plan-build action).

    Determinism contract (the split_assign family): negative ``j`` of
    anchor ``a`` is ``h60(salt|a|j) mod n_ids``, skipping self-hits by
    stepping to the next slot — a pure projection, rerun- and
    partitioning-stable, no RNG state. ``n_ids`` is the id-space size
    (ids assumed dense ``0..n_ids-1``, the layout corpus compaction
    produces; computed with one ``max(id)+1`` aggregate when omitted —
    a broadcast 1-row frame inside the plan). Self-collisions step
    deterministically (+1 mod n) so every anchor gets EXACTLY ``k``
    distinct-from-anchor negatives (negatives may repeat among
    themselves for tiny corpora; at corpus scale collisions are
    ~k²/n).

    ``payload`` columns join onto the negative id with ONE shuffle
    hash join on ``neg_id`` (skew-free: hash-uniform ids); omit it for
    the bare (anchor, slot, neg_id) table, which is join-free. Output:
    ``(id_col, neg_slot, neg_id [, payload...])``.
    """
    from .hashes import h60

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_ids is not None and n_ids < 2:
        raise ValueError("need at least two ids to draw negatives")
    slots = F.array(*[F.lit(j) for j in range(k)])
    a = F.col(id_col).cast("bigint")
    raw = h60(
        F.concat_ws("|", F.lit(salt), a.cast("string"), F.col("neg_slot").cast("string"))
    )
    out = df.select(id_col).select(
        F.col(id_col), F.explode(slots).alias("neg_slot")
    )
    if n_ids is None:
        # the derived id-space size rides as a broadcast 1-row
        # aggregate instead of an eager max(id) collect at plan-build
        # time — the same shuffle-free corpus max, scheduled inside
        # the main job (guide §5: the driver does no data work; r16).
        # The <2 guard moves in-plan (raise_error on the 1-row frame,
        # evaluated once), keeping the loud degenerate-corpus error.
        nfr = df.agg(
            (F.max(F.col(id_col)).cast("bigint") + 1).alias("_nids")
        ).select(
            F.when(F.col("_nids") >= 2, F.col("_nids"))
            .otherwise(
                F.raise_error(
                    F.lit("sample_negatives: need at least two ids to draw negatives")
                ).cast("bigint")
            )
            .alias("_nids")
        )
        out = out.crossJoin(F.broadcast(nfr))
        nid = F.col("_nids")
    else:
        nid = F.lit(int(n_ids))
    cand = F.pmod(raw, nid)
    neg = F.when(cand == a, F.pmod(cand + 1, nid)).otherwise(cand)
    out = out.withColumn("neg_id", neg)
    if n_ids is None:
        out = out.drop("_nids")
    if payload:
        side = df.select(
            F.col(id_col).cast("bigint").alias("neg_id"),
            *[F.col(c) for c in payload],
        )
        out = out.join(side, "neg_id", "inner").select(
            id_col, "neg_slot", "neg_id", *payload
        )
    return out


def robust_zscore(
    df: DataFrame,
    col: str,
    *,
    by=None,
    out: str = "rz",
    flag_col: str | None = None,
    k: float = 3.5,
) -> DataFrame:
    """Median/MAD robust z-score per group — the outlier signal that
    survives heavy tails where mean/std break (a single crawl of
    garbage shifts a mean; it cannot shift a median).

    ``rz = 0.6745 · (x − median) / MAD`` (the standard normal-
    consistency constant); ``flag_col`` adds ``|rz| > k``. Exact
    medians (order statistics, not approximations) via two grouped
    ``median`` aggregations joined back broadcast-style — 3 exchanges
    total, all on the group keys, deterministic for any partitioning
    (an order statistic has no summation-order noise, so the DuckDB
    oracle matches bit-for-bit). A zero MAD (>50% identical values)
    yields rz 0 for the identical rows and ±inf-free nulls avoided by
    convention: rz = 0 when MAD = 0.
    """
    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    x = F.col(col).cast("double")
    med = df.groupBy(*by).agg(F.median(x).alias("_med"))
    joined = (
        df.join(F.broadcast(med), by) if by else df.crossJoin(F.broadcast(med))
    )
    mad = joined.groupBy(*by).agg(
        F.median(F.abs(x - F.col("_med"))).alias("_mad")
    )
    full = (
        joined.join(F.broadcast(mad), by)
        if by
        else joined.crossJoin(F.broadcast(mad))
    )
    rz = F.when(
        F.col("_mad") > 0,
        F.lit(0.6745) * (x - F.col("_med")) / F.col("_mad"),
    ).otherwise(F.lit(0.0))
    res = full.withColumn(out, rz).drop("_med", "_mad")
    if flag_col is not None:
        res = res.withColumn(flag_col, F.abs(F.col(out)) > F.lit(float(k)))
    return res


def _ares_key(u: Column, weight: Column) -> Column:
    """The Efraimidis–Vassilvitskii A-Res key ``ln(u)/w`` with the
    hash-boundary guard applied: any ``u`` outside the open interval
    (0, 1) loses (key −inf). ``log(0)`` is NULL, and NULL sorts FIRST
    under the descending key; ``u == 1.0`` gives key 0, the maximum,
    which would win regardless of weight. Both md5 rounding boundaries
    (each ~1e-16-1e-18 of ids) are treated alike; the DuckDB mirror is
    ``contract._weighted_sample_oracle``.
    """
    return F.when((u > 0) & (u < 1), F.log(u) / weight).otherwise(
        F.lit(float("-inf"))
    )


def weighted_sample(
    df: DataFrame,
    *,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols=None,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement — k rows
    per group (or globally), selection probability proportional to
    ``weight_col``: the Efraimidis–Vassilvitskii A-Res scheme with the
    salted-hash uniform standing in for randomness, so the kept set is
    an exact-by-id pure function of the data (rerun- and
    partitioning-stable, oracle-reproducible like ``split_assign``).

    Per row: ``key = ln(u) / w`` with ``u = hash_uniform(salt|id)``;
    the k LARGEST keys win (ties broken by id). Weights must be > 0;
    rows with non-positive weight are excluded.

    Scale shape: grouped → one ordered window per group (rank over the
    keys, groups are the parallelism); global → ``orderBy(key).limit``
    which Catalyst plans as TakeOrderedAndProject (per-partition heaps,
    no global sort). Either way one pass, no sampling loop.

    Output: ``group_cols + (id_col, smp_rank)``, ranks 1..k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    groups = list(group_cols) if group_cols else []
    u = hash_uniform(F.col(id_col), salt)
    key = _ares_key(u, F.col(weight_col))
    base = df.filter(F.col(weight_col) > 0).select(
        *groups, F.col(id_col), key.alias("_key")
    )
    order = [F.col("_key").desc(), F.col(id_col)]
    if groups:
        w = Window.partitionBy(*groups).orderBy(*order)
        return (
            base.withColumn("smp_rank", F.row_number().over(w))
            .filter(F.col("smp_rank") <= k)
            .select(*groups, id_col, "smp_rank")
        )
    top = base.orderBy(*order).limit(k)
    w = Window.orderBy(*order)  # <= k rows — bounded single partition
    return top.withColumn("smp_rank", F.row_number().over(w)).select(
        id_col, "smp_rank"
    )


def temperature_mix(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    alpha: float = 0.7,
    budget_frac: float = 0.5,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-flattened source mixing: sampling shares follow
    ``cnt^alpha`` (alpha < 1 flattens the source power law, the
    standard multilingual/multi-source LM recipe) under a total budget
    of ``budget_frac * N`` rows. Unlike :func:`mix_datasets` (fixed
    per-source rates), the rates here are DERIVED from corpus counts:

    1. one map-side-combinable count per source (output = #sources);
    2. driver-free share computation on that tiny frame — weights are
       ``pow(cnt, alpha)`` quantized to DECIMAL(18,6) so the share
       denominator is an exact sum (associativity-proof), shares one
       IEEE divide each;
    3. the keep decision re-joins rates by a broadcast and is the
       usual salted-hash projection ``u(salt|source|id) < rate`` —
       no sampling state, stable under reruns and repartitioning.

    Returns per-source audit rows: ``(source, cnt, share, target_n,
    kept_n)`` — ``kept_n / target_n`` converges at corpus scale; the
    audit exposes small-source clipping (rate capped at 1.0).
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0 < budget_frac <= 1:
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    cnts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = F.round(F.pow(F.col("cnt").cast("double"), F.lit(alpha)), 6).cast(
        "decimal(18,6)"
    )
    weighted = cnts.select(source_col, "cnt", w.alias("_w"))
    tot = weighted.agg(
        F.sum("_w").alias("_tw"), F.sum("cnt").alias("_n")
    )
    rates = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "cnt",
            (F.col("_w").cast("double") / F.col("_tw").cast("double")).alias(
                "_share"
            ),
            F.col("_n"),
        )
        .select(
            source_col,
            "cnt",
            "_share",
            F.floor(
                F.lit(budget_frac) * F.col("_n").cast("double") * F.col("_share")
            )
            .cast("bigint")
            .alias("target_n"),
        )
        .select(
            source_col,
            "cnt",
            "_share",
            "target_n",
            F.least(
                F.lit(1.0),
                F.col("target_n").cast("double") / F.col("cnt").cast("double"),
            ).alias("_rate"),
        )
    )
    u = _u01([F.lit(salt), F.col(source_col), F.col(id_col).cast("string")])
    kept = (
        df.select(id_col, source_col)
        .join(F.broadcast(rates.select(source_col, "_rate")), source_col)
        .filter(u < F.col("_rate"))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("kept_n"))
    )
    return (
        rates.join(kept, source_col, "left")
        .select(
            source_col,
            "cnt",
            (F.round(F.col("_share"), 6) + F.lit(0.0)).alias("share"),
            "target_n",
            F.coalesce(F.col("kept_n"), F.lit(0)).cast("bigint").alias("kept_n"),
        )
    )
