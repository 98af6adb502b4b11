"""Similarity search over embedding columns: cosine top-k.

No reference analog. Three physical strategies, plus the quantizer
that builds IVF cells:

- :func:`cosine_topk` — exact brute force: the (small) query set is
  collected and rides into an Arrow-batch scan of the corpus
  (``core.map_batches``), where one numpy matmul per batch scores
  every (corpus row, query) pair; ranking shuffles only each batch's
  top-k candidates. The baseline.
- :func:`cosine_topk_ivf` — IVF-style: each query probes only its own
  coarse cell (``cell_col``). The join becomes a cell equi-join and
  the scanned fraction drops to ~1/C; with a corpus written
  partitioned by cell, cells map to partition pruning.
- :func:`cosine_topk_lsh` — each query probes its signed-random-
  projection bucket (and, with ``probes > 1``, the buckets one bit
  away). Approximate.
- :func:`kmeans_cells` — Lloyd k-means cell assignment, the IVF
  coarse quantizer: an Arrow-batch assigner (``core.map_batches``)
  against the broadcast centroids, one groupBy per iteration.

The IVF and LSH paths are one probe-and-rank step: the broadcast
queries join the corpus on the partition key, JVM higher-order
functions (``zip_with`` + ``aggregate``) score each pair, and a window
keeps the top k. A vector with a NULL element counts as a NULL vector
on every path: it is nobody's neighbour, gets none, and has no cell.
The module also holds scalar quantization, embedding moments / PCA and
outlier labels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..core import _fields_of, map_batches, sum_batches
from .hashes import bucket as hash_bucket, spread

__all__ = [
    "cosine_topk",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "kmeans_cells",
    "quantize_embeddings",
    "embedding_moments",
    "pca_from_moments",
    "pca_project",
    "fit_pca",
    "embedding_pca",
    "label_outliers",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _normed(df: DataFrame, id_col: str, vec_col: str, extra: list[str]) -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    out = df.select(F.col(id_col), v, *[F.col(c) for c in extra])
    return out.withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _complete(vec: Column) -> Column:
    """True for a vector with no NULL element; NULL for a NULL vector.
    A vector with a NULL element counts as a NULL vector: filter on
    this before a vector reaches numpy, where the element turns NaN."""
    return F.forall(vec, lambda x: x.isNotNull())


def _vec_dim(df: DataFrame, vec_col: str) -> int | None:
    """Length of the first non-NULL vector in ``vec_col``; None when
    there is none (an empty frame, or every vector NULL)."""
    row = df.where(F.col(vec_col).isNotNull()).select(F.size(vec_col)).first()
    return None if row is None else row[0]


def _no_neighbours(corpus: DataFrame, id_col: str) -> DataFrame:
    """The empty ``(query_id, rank, neighbor_id, cos_sim)`` result."""
    id_type = dict(corpus.dtypes)[id_col]
    return corpus.sparkSession.createDataFrame(
        [], f"query_id {id_type}, rank int, neighbor_id {id_type}, cos_sim double"
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Keep each query's ``k`` best ``(query_id, neighbor_id, cos_sim)``
    rows, ranked by similarity then neighbour id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _probe_rank(
    q: DataFrame, c: DataFrame, probe: str, key: str, *, k: int, id_col: str, round_digits: int
) -> DataFrame:
    """Top-``k`` by cosine of each query over the corpus rows in the
    partition it probes: the broadcast queries ``q`` join the corpus
    ``c`` (both :func:`_normed`) on ``q.probe == c.key`` and distinct
    ids. A vector with a NULL element has a NULL norm and takes no part
    on either side."""
    q = q.where(F.col("nrm").isNotNull()).alias("q")
    c = c.where(F.col("nrm").isNotNull()).alias("c")
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col(f"q.{probe}") == F.col(f"c.{key}"))
            & (F.col(f"q.{id_col}") != F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"q.{id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            F.round(
                _dot(F.col("q.v"), F.col("c.v"))
                / (F.col("q.nrm") * F.col("c.nrm")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_broadcast_queries: int | None = 65_536,
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for each query vector.

    Physical plan (the blocked-matmul shape that makes the exact path
    competitive, same design as ``embedding_dup_pairs``'s exact mode):
    the query side is collected to the driver (bounded by
    ``max_broadcast_queries`` — the moral broadcast) and rides into an
    Arrow-batched ``mapInPandas`` over the corpus, where one BLAS
    matmul per batch scores every (corpus row, query) pair — no
    interpreted per-element lambdas, no Q·N row explosion. Each batch
    emits only its top-k candidates per query (with a
    ``10^-round_digits`` tie slack so post-UDF rounding cannot change
    the global winner set); the final exact ranking is a window over
    ~partitions·Q·k candidate rows.

    Ranking is deterministic — ties broken by neighbor id on the
    similarity rounded to ``round_digits`` (so independent engines
    agree; the rounding itself happens JVM-side with Spark's
    HALF_UP ``round``, matching the SQL oracle).

    Large query sets don't fit a driver/executor broadcast: beyond
    ``max_broadcast_queries`` this refuses rather than degrade — route
    those to :func:`cosine_topk_ivf` (cell-pruned) or
    :func:`cosine_topk_lsh` (bucketed, approximate).
    ``max_broadcast_queries=None`` lifts the cap for callers that know
    their size (the collect itself is inherent to the strategy).

    A NULL vector, or one with a NULL element, is dropped on both
    sides: as a query it gets no neighbors, in the corpus it is
    nobody's neighbor.

    Output: ``(query_id, rank, neighbor_id, cos_sim)``.
    """
    import numpy as np

    qside = queries.select(id_col, vec_col).where(_complete(F.col(vec_col)))
    if max_broadcast_queries is not None:
        # Count BEFORE collect: the guard must refuse without ever
        # materializing an oversized query set on the driver. limit(cap+1)
        # bounds the count job itself — Spark stops scanning once cap+1
        # rows exist, so even a pathological query side costs O(cap).
        probe = qside.limit(max_broadcast_queries + 1).count()
        if probe > max_broadcast_queries:
            raise ValueError(
                f"query side exceeds max_broadcast_queries="
                f"{max_broadcast_queries}: a broadcast cross join at this "
                "size is a scale hazard — use cosine_topk_ivf / "
                "cosine_topk_lsh, or raise the limit explicitly"
            )
    qrows = qside.collect()
    if not qrows:
        return _no_neighbours(corpus, id_col)
    id_type = dict(corpus.dtypes)[id_col]
    q_ids = np.array([r[0] for r in qrows])
    qm = np.array([r[1] for r in qrows], dtype=float)
    qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
    eps = 2.0 * 10.0 ** (-round_digits)
    q_block = 4096  # bounds the per-batch (B × Qblock) score matrix

    def run(pdf):
        ids = pdf[id_col].to_numpy()
        cm = np.array(pdf[vec_col].tolist(), dtype=float)
        cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-300)
        outs = []
        for j0 in range(0, len(q_ids), q_block):
            qi = q_ids[j0 : j0 + q_block]
            sims = cm @ qm[j0 : j0 + q_block].T  # (B, Qblock)
            sims[ids[:, None] == qi[None, :]] = -np.inf
            if sims.shape[0] > k:
                kth = np.partition(sims, -k, axis=0)[-k, :]
            else:
                kth = np.full(sims.shape[1], -np.inf)
            ii, jj = np.nonzero(sims >= kth[None, :] - eps)
            # When a batch has <= k rows, kth is -inf and the masked
            # self-similarities (-inf) pass `-inf >= -inf` — drop all
            # non-finite candidates so self-matches never surface.
            finite = np.isfinite(sims[ii, jj])
            ii, jj = ii[finite], jj[finite]
            outs.append((qi[jj], ids[ii], sims[ii, jj]))
        cols = [np.concatenate(c) for c in zip(*outs)]
        return dict(zip(("query_id", "neighbor_id", "cos_sim"), cols))

    # no spread() here: matmul work scales with BYTES (unlike the
    # tokenize/hash pipelines whose per-row fan-out dwarfs their input),
    # so Spark's own maxPartitionBytes file splitting yields the right
    # parallelism at scale, and a forced 32-way exchange on a small
    # corpus only adds a shuffle + per-task Python overhead
    candidates = map_batches(
        corpus.select(id_col, vec_col).where(_complete(F.col(vec_col))),
        run,
        {"query_id": id_type, "neighbor_id": id_type, "cos_sim": "double"},
    )
    return _top_k(candidates.withColumn("cos_sim", F.round("cos_sim", round_digits)), k)


def srp_bucket(vcol: Column, planes: int, dim: int) -> Column:
    """Signed-random-projection bucket: bit ``p`` is the sign of the dot
    with deterministic hyperplane ``p`` (:func:`..dedup.srp_plane`
    literals — JVM-evaluated, reproducible in SQL). A NULL vector, or
    one with a NULL element, has a NULL dot and so a NULL bucket: a
    bucket equi-join never matches it."""
    from .dedup import srp_plane

    bucket = None
    for p in range(planes):
        plane = F.array(*[F.lit(srp_plane(p, d)) for d in range(dim)])
        bit = (_dot(vcol, plane) >= 0).cast("int") * F.lit(1 << p)
        bucket = bit if bucket is None else bucket + bit
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    planes: int = 8,
    probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """LSH-bucketed top-k: corpus and queries hash to signed-random-
    projection buckets; each query scans only its probed buckets.

    ``probes=1`` probes the query's own bucket; ``probes=1+m`` also
    probes the ``m`` buckets at Hamming distance 1 (lowest plane bits
    flipped) — the standard multiprobe recall/cost dial. Candidate
    volume is ~``probes·N/2^planes`` per query; at scale the bucket
    column doubles as a partition key so probes prune to partitions.
    Approximate by construction: neighbors hashing elsewhere are
    missed with probability ``1 - (1-θ/π)^planes``-ish per plane
    disagreement (the LSH trade). The dimension comes from the first
    non-NULL corpus vector; with none the result is empty. A NULL
    vector, or one with a NULL element, is neither a neighbor nor gets
    one.
    """
    if not 1 <= probes <= planes + 1:
        raise ValueError(f"probes must be in [1, planes+1], got {probes}")
    dim = _vec_dim(corpus, vec_col)
    if dim is None:
        return _no_neighbours(corpus, id_col)
    c = _normed(spread(corpus, id_col), id_col, vec_col, []).withColumn(
        "bucket", srp_bucket(F.col("v"), planes, dim)
    )
    q = _normed(queries, id_col, vec_col, []).withColumn(
        "bucket", srp_bucket(F.col("v"), planes, dim)
    )
    probe_list = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(probes - 1)],
    )
    q = q.withColumn("probe", F.explode(probe_list))
    return _probe_rank(
        q, c, "probe", "bucket", k=k, id_col=id_col, round_digits=round_digits
    )


def kmeans_cells(
    df: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Lloyd k-means cell assignment — the IVF coarse-quantizer build.

    Deterministic by construction so independent engines reproduce it:
    initial centroids are the vectors with the ``k`` smallest ids,
    distances are ROUNDED to ``round_digits`` before the argmin (ties →
    smaller cell index), and each updated centroid (per-dimension mean)
    is rounded the same way before the next round — the rounding
    absorbs float-summation-order differences that would otherwise make
    the assignment depend on partition order.

    Execution: assignment is an Arrow-batch scan (``core.map_batches``)
    against the broadcast k×d centroid matrix (tiny closure state, the
    standard Lloyd-on-Spark shape); the update is one groupBy per
    iteration. Only the k×d centroid matrix ever reaches the driver.

    A NULL vector, or one with a NULL element, takes no part in the
    initial centroids or the means, and gets no output row.

    Returns ``(id_col, cell)``.
    """
    import numpy as np

    v = df.where(_complete(F.col(vec_col))).select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    init = v.orderBy(id_col).limit(k).collect()
    if len(init) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(init)}")
    centroids = np.asarray([r["v"] for r in init], dtype=float)

    def assigner(cents: np.ndarray):
        def run(pdf):
            x = np.stack(pdf["v"].to_numpy())
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cell = np.argmin(np.round(d2, round_digits), axis=1)
            return {id_col: pdf[id_col].to_numpy(), "cell": cell.astype(np.int32)}

        return run

    assigned = None
    dim = centroids.shape[1]
    for t in range(iters):
        assigned = map_batches(
            spread(v, id_col), assigner(centroids), {**_fields_of(df, [id_col]), "cell": "int"}
        )
        if t == iters - 1:
            break  # the returned assignment follows the LAST centroids
        means = (
            assigned.join(v, id_col)
            .groupBy("cell")
            .agg(*[F.round(F.avg(F.col("v")[i]), round_digits).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        new_c = centroids.copy()  # empty cells keep their old centroid
        for r in means:
            new_c[r["cell"]] = [r[f"c{i}"] for i in range(dim)]
        centroids = new_c
    return assigned


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """IVF-bucketed top-k: each query only scans its own coarse cell.

    The equi-join on ``cell_col`` replaces the cross join — candidate
    volume drops from N to N/C per query, and with a cell-partitioned
    corpus layout the scan prunes to matching partitions. Recall is
    exact for neighbors in the probed cell (single-probe IVF
    semantics). A NULL vector, or one with a NULL element, is dropped
    on both sides.
    """
    c = _normed(spread(corpus, id_col), id_col, vec_col, [cell_col])
    q = _normed(queries, id_col, vec_col, [cell_col])
    return _probe_rank(
        q, c, cell_col, cell_col, k=k, id_col=id_col, round_digits=round_digits
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "emb_id",
    vec_col: str = "vec",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-dimension scalar quantization of an embedding
    column — the standard 4× (int8) memory/bandwidth lever for
    vector search at corpus scale. Two-pass plan:

    1. one aggregation computes the per-dimension max |x| over the
       corpus: posexplode to (dim, |x|) then ``groupBy(dim).max`` —
       the hash aggregate's map-side combine reduces every task to
       ≤ d rows before the shuffle, so only d·n_tasks tiny rows move
       and d doubles reach the driver, broadcast back as a literal;
    2. a pure projection emits ``q[i] = round(x[i] / scale[i] ·
       (2^(bits−1) − 1))`` clamped to the signed range, plus the
       per-dim scales so consumers can dequantize.

    Everything is Catalyst array arithmetic (zip_with / transform) —
    no Python, no shuffle beyond the one scale aggregation. Output:
    ``(id, qvec array<int>, scales array<double>)``. Dimensions that
    are identically zero quantize to zero (scale pinned to 1 to avoid
    0/0).
    """
    if not (2 <= bits <= 16):
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    qmax = float(2 ** (bits - 1) - 1)
    v = F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    rows = (
        df.select(F.posexplode(v).alias("pos", "a"))
        .groupBy("pos")
        .agg(F.max("a").alias("m"))
        .collect()
    )
    absmax = [m for _, m in sorted((r["pos"], r["m"]) for r in rows)]
    scales = [m if m and m > 0 else 1.0 for m in absmax]
    sc = F.array(*[F.lit(float(s)) for s in scales])
    q = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        sc,
        lambda x, s: F.greatest(
            F.lit(-qmax - 1.0),
            F.least(F.lit(qmax), F.round(x / s * F.lit(qmax), 0)),
        ).cast("int"),
    )
    return df.select(F.col(id_col), q.alias("qvec"), sc.alias("scales"))


def embedding_moments(
    df: DataFrame,
    *,
    vec_col: str = "vec",
):
    """Distributed first/second moments of an embedding column.

    One Arrow-batch pass (``core.sum_batches``) computes per-batch
    partials of (count, Σx, ΣxxT) — each partition contributes d + d²
    doubles regardless of its row count, so the driver combine handles
    d=64 · n_partitions floats, never the corpus. NULL vectors are
    skipped and not counted.

    Returns ``(n, mean, cov)``: the row count, the d-vector mean and
    the biased d×d covariance ``G/n − μμᵀ`` (numpy arrays).
    """
    import numpy as np

    def partial(pdf):
        m = np.array(pdf[vec_col].tolist(), dtype=float)
        return {"s": m.sum(axis=0), "g": m.T @ m}

    sums = sum_batches(df.select(vec_col), partial)
    if sums is None:
        raise ValueError("cannot fit PCA on an empty corpus")
    n, s, g = sums["n"], sums["s"], sums["g"]
    d = len(s)
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    return n, mean, cov


def pca_from_moments(mean, cov, k: int):
    """Driver-side eigendecomposition of a (mean, cov) pair: top-``k``
    eigenvalues (descending) and a (k, d) component matrix with
    deterministic sign canonicalization (largest-|component| positive).
    Closed over d, not n — the corpus never reaches the driver."""
    import numpy as np

    d = len(mean)
    if not (1 <= k <= d):
        raise ValueError(f"k must be in [1, {d}], got {k}")
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    vals = eigvals[order]
    comps = eigvecs[:, order].T  # (k, d)
    for i in range(k):  # deterministic sign: largest |component| positive
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return vals, comps


def fit_pca(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "vec",
):
    """Fit a PCA basis over an embedding column at corpus scale: the
    :func:`embedding_moments` partial-aggregation pass followed by the
    :func:`pca_from_moments` driver eigh.

    Returns ``(eigvals, components, mean)``: top-``k`` eigenvalues
    (descending), a (k, d) component matrix, and the d-vector mean.
    """
    _n, mean, cov = embedding_moments(df, vec_col=vec_col)
    vals, comps = pca_from_moments(mean, cov, k)
    return vals, comps, mean


def pca_project(
    df: DataFrame,
    comps,
    mean,
    *,
    id_col: str = "emb_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Project onto a fitted (k, d) basis: ``Wᵀ(x − μ) = Wᵀx − Wᵀμ``
    emitted as ``k`` pure-Catalyst dot-product folds with literal
    coefficients — no Python in the transform, no shuffle at all.
    Output: ``(id, pc0..pc{k-1})``."""
    bias = comps @ mean
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    outs = []
    for i in range(len(comps)):
        w = F.array(*[F.lit(float(c)) for c in comps[i]])
        dot = F.aggregate(
            F.zip_with(x, w, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        outs.append((dot - F.lit(float(bias[i]))).alias(f"pc{i}"))
    return df.select(F.col(id_col), *outs)


def embedding_pca(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "emb_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components.

    Fit via :func:`fit_pca` (one partial-aggregation pass), then the
    projection ``Wᵀ(x − μ) = Wᵀx − Wᵀμ`` is emitted as ``k`` pure-
    Catalyst dot-product folds with literal coefficients — no Python in
    the transform, no shuffle at all. Output: ``(id, pc0..pc{k-1})``.
    """
    _vals, comps, mean = fit_pca(df, k, vec_col=vec_col)
    return pca_project(df, comps, mean, id_col=id_col, vec_col=vec_col)


def label_outliers(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n: int = 10,
    buckets: int = 32,
) -> DataFrame:
    """Per-label embedding outliers: the ``n`` vectors least similar
    (cosine) to their own label's centroid — the label-noise /
    mislabeled-example sweep a training-data pipeline runs before
    fitting anything on the labels.

    Everything runs in the exploded (row, dim) domain with components
    quantized to 6 decimals and carried as INT64 MICRO-UNITS
    (value·10⁶ — the same lattice DECIMAL(18,6) spans, in plain long
    arithmetic), so centroid sums, dot products, and norms are exact
    under any partitioning. Long µ-units replace the original
    DECIMAL(18,6) columns after an r9 profile showed JVM decimal
    multiply-aggregate costing ~2× plain long arithmetic (the per-row
    dot stage alone was 1.9 s of the 4.1 s total at the 10× tier);
    every published value is bit-identical — a sum of µ-units k cast
    to double then divided by 10⁶/10¹² equals the DECIMAL sum cast to
    double as long as |k| < 2⁵³ (both are the correctly-rounded double
    of the same exact rational; dot sums here are ≤ ~10¹⁴), and the
    oracle agrees byte-exactly in CI.

    1. centroid: one (label, dim)-keyed aggregate — output is
       labels x dim rows, broadcastable at ANY corpus size;
    2. per-row cosine-to-centroid: broadcast-join the centroid onto
       the exploded rows, one row-keyed aggregate. TWO alternatives
       were A/B'd at the 100x tier and REJECTED on measurement: an
       Arrow mapInPandas kernel (9.6 vs 4.7 s — joining a 64-long
       centroid array onto every row + np.vstack costs more than the
       long hash-aggregate, r9), and a pure-Catalyst zip_with/
       aggregate fold over one centroid-array row per label (12.3 vs
       5.3 s, r10 — higher-order-function lambdas evaluate INTERPRETED
       per element, ~400M invocations here, losing to the codegen'd
       exploded hash aggregate despite shipping less data). The
       exploded join+agg shape stands as the measured best;
    3. top-n per label runs TWO-PHASE (the cap_per_group shape): a
       window per (label, hash-bucket) prunes to local top-n — the
       global top-n is always a subset — then the exact window ranks
       the <= buckets*n survivors. A single label-partitioned window
       would serialize each label's millions of rows onto one reducer.

    Output: ``(label, id_col, cos_centroid, rank)`` with rank 1 = the
    most dissimilar vector (ties broken by id, deterministic).
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # quantize through DECIMAL(18,6) (exact HALF_UP at 6 decimals),
    # then to µ-units: decimal(18,6) · 10⁶ is an exact integer
    xm = (
        F.round(F.col("_x").cast("double"), 6).cast("decimal(18,6)")
        * F.lit(1000000)
    ).cast("long")
    # NO lineage cut here (r10): localCheckpoint materialized the
    # rows x dim frame (256 M rows at the 200x tier) in the block
    # manager on EVERY invocation and the blocks only free on GC —
    # repeated runs in one session degraded 5.9 -> 47 -> 89 s as
    # storage filled and spilled. Recomputing the explode+quantize
    # projection for the second consumer is a codegen'd map off a
    # column-pruned scan: measured FLAT 6.5-7.2 s/run at both 100x
    # and 200x (vs the leak), and at real scale re-reading the scan
    # beats materializing a corpus x dim frame that cannot fit.
    dims = emb.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_lab"),
        F.posexplode(vec_col).alias("_i", "_x"),
    ).select("_id", "_lab", "_i", xm.alias("_xm"))
    cent = dims.groupBy("_lab", "_i").agg(
        F.sum("_xm").alias("_sm"), F.count(F.lit(1)).alias("_cnt")
    ).select(
        "_lab",
        "_i",
        # mean back on the 6-decimal lattice: sum_µ → double (exact:
        # |sum| « 2⁵³) → /10⁶ (correctly rounded, = the DECIMAL-sum
        # cast) → /cnt → round → µ-units again
        (
            F.round(
                F.col("_sm").cast("double") / F.lit(1000000.0) / F.col("_cnt"),
                6,
            ).cast("decimal(18,6)")
            * F.lit(1000000)
        )
        .cast("long")
        .alias("_cm"),
    )
    cnorm = cent.groupBy("_lab").agg(
        F.sum(F.col("_cm") * F.col("_cm")).alias("_ncm")
    )
    joined = dims.join(F.broadcast(cent), ["_lab", "_i"])
    per_row = joined.groupBy("_id", "_lab").agg(
        F.sum(F.col("_xm") * F.col("_cm")).alias("_dotm"),
        F.sum(F.col("_xm") * F.col("_xm")).alias("_nvm"),
    )
    micro2 = F.lit(1.0e12)
    cos = (
        per_row.join(F.broadcast(cnorm), "_lab")
        .select(
            "_lab",
            "_id",
            (
                F.round(
                    (F.col("_dotm").cast("double") / micro2)
                    / (
                        F.sqrt(F.col("_nvm").cast("double") / micro2)
                        * F.sqrt(F.col("_ncm").cast("double") / micro2)
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cos_centroid"),
        )
    )
    bucket = hash_bucket(buckets, "_id")
    pruned = (
        cos.withColumn("_b", bucket)
        .withColumn("_lr", F.row_number().over(
            Window.partitionBy("_lab", "_b").orderBy(
                F.col("cos_centroid").asc(), F.col("_id").asc()
            )
        ))
        .filter(F.col("_lr") <= n)
        .drop("_b", "_lr")
    )
    final = Window.partitionBy("_lab").orderBy(
        F.col("cos_centroid").asc(), F.col("_id").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= n)
        .select(
            F.col("_lab").alias(label_col),
            F.col("_id").alias(id_col),
            "cos_centroid",
            "rank",
        )
    )
