"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

No reference analog (/root/reference has no text pipeline); these are
the north-star training-data ops. Design rules at 100 TB:

- candidate generation is always a *bucket equi-join* (band hash /
  bit chunk / SRP bucket) — never an all-pairs cross join;
- signatures are computed **map-side** with higher-order array
  functions (one pass over each doc's token array, zero shuffles);
- the only shuffle is the bucket join: a pair sharing several bands
  is emitted once, from its smallest shared band, so no final
  distinct runs;
- hot buckets (a band value shared by many docs) are the classic LSH
  skew risk: AQE skew-join splitting handles moderate skew, and
  ``max_df`` drops degenerate shingles (stopword-like n-grams) before
  they create quadratic buckets.

Every constant (seeds, band layout, hash width) is mirrored by the
DuckDB oracle SQL in :mod:`xarray_scipy_spark.contract`, which recomputes
identical md5-based values — the correctness gate compares byte-equal
results, not just row counts.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..core import map_groups
from .hashes import (
    MINHASH_P,
    bucket,
    h32,
    h60,
    minhash_coeffs,
    spread,
    tokens,
    word_shingles,
)
from .similarity import _dot, _normed, _vec_dim, srp_bucket

__all__ = [
    "edit_distance_pairs",
    "apply_cdc",
    "latest_by_key",
    "exact_duplicates",
    "minhash_signatures",
    "minhash_pairs",
    "minhash_pairs_cross",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "simhash_pairs",
    "embedding_dup_pairs",
    "duplicate_clusters",
    "keep_best",
    "srp_plane",
    "duplicated_ngram_spans",
]


def exact_duplicates(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by content hash: one row per distinct
    content, with the kept representative (min id) and the copy count.

    Single hash-aggregate shuffle on the 128-bit digest; at any scale
    this is the cheapest dedup pass and the one to run first.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _with_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    # Materialize the token array in its own projection: inlining
    # ``tokens(text)`` directly into ``word_shingles`` would substitute
    # the split+filter subtree into every per-gram ``element_at``, so
    # the tokenizer would re-run ~k times PER SHINGLE (measured ~10x
    # slowdown). Two projections keep it evaluated once per row —
    # CollapseProject declines to merge because the reference is
    # non-cheap and repeated.
    tok = spread(df, id_col).select(F.col(id_col), tokens(text_col).alias("toks"))
    return tok.select(
        F.col(id_col), word_shingles(F.col("toks"), k=k).alias("shingles")
    )


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """MinHash signature per document: ``mh_i`` = min over the doc's
    distinct word-``k``-gram shingles of the affine permutation
    ``(A_i * h32(shingle) + B_i) mod P`` (:func:`..hashes.minhash_coeffs`).

    Relational shape chosen for scale: each shingle is md5-hashed ONCE
    (explode → ``h32`` — whole-stage codegen, not an interpreted
    higher-order function), the ``num_hashes`` permutations are cheap
    codegen'd arithmetic columns, and the per-doc mins come from one
    hash aggregate with map-side partial ``min`` — the shuffle moves
    only ``num_hashes`` partial mins per doc per partition, so this is
    effectively map-side at any scale. (A previous formulation computed
    ``num_hashes`` seeded md5s per shingle inside ``transform``/
    ``array_min``; interpreted HOF evaluation made it ~16x slower.)
    Docs with fewer than ``k`` tokens have no shingles and get no row
    (they cannot near-duplicate anything under this family).
    """
    sh = _with_shingles(df, id_col, text_col, k)
    # explode_outer (+ null filter) instead of explode: plain explode
    # triggers InferFiltersFromGenerate, which pushes a size()>0 filter
    # below the repartition with the whole shingle expression re-inlined
    # — re-running the tokenizer serially on the unsplit scan (measured
    # 8.6s -> 0.4s on sf0.1 documents).
    hashed = (
        sh.select(F.col(id_col), F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .withColumn("x", h32(F.col("sh")))
    )
    # aggregates as one parameterized SQL statement — the Column-API
    # loop over num_hashes permutations is hundreds of Py4J roundtrips
    # of plan-build time per bench run (same lesson as simhash)
    aggs = ", ".join(
        f"min(({a} * x + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    return hashed.sparkSession.sql(
        f"SELECT {id_col}, {aggs} FROM {{src}} GROUP BY {id_col}", src=hashed
    )


def minhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact-Jaccard verify.

    1. signatures (map-side, see :func:`minhash_signatures`);
    2. band hashes: ``bands`` groups of ``num_hashes//bands`` rows,
       band value = md5 of the concatenated minhashes;
    3. candidates: self-equi-join on ``(band_idx, band_hash)`` — a
       shuffle hash join on bucket keys, never a cross join;
    4. verify: exact shingle-set Jaccard via ``array_intersect`` /
       ``array_union`` after joining the (small) candidate set back to
       the shingle arrays; keep pairs with ``jaccard >= threshold``.

    Output: ``(a_id, b_id, jaccard)`` with ``a_id < b_id``.
    """
    band_hashes = _minhash_bands(num_hashes, bands)
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, k=k
    )
    cand = _band_join(
        sigs,
        band_hashes,
        keep=id_col,
        pair=f"a.{id_col} < b.{id_col}",
        out=f"a.{id_col} AS a_id, b.{id_col} AS b_id",
    )
    sh = _with_shingles(df, id_col, text_col, k)
    return _jaccard_verify(
        cand, (sh, id_col, "a_id"), (sh, id_col, "b_id"), threshold
    )


def minhash_pairs_cross(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    right_id_col: str | None = None,
    right_text_col: str | None = None,
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus near-duplicate pairs: every ``left`` document
    matched against ``right`` via the same banded MinHash-LSH +
    exact-Jaccard verify as :func:`minhash_pairs`.

    This is the INCREMENTAL dedup shape a production pipeline needs:
    dedup today's shard (``left``) against the accumulated corpus
    snapshot (``right``) without re-pairing the snapshot against
    itself — the join is constrained to cross-side pairs, so the heavy
    side's self-pairs are never generated, and the snapshot's
    signatures can be precomputed/persisted upstream. Same scale
    properties: banded buckets, shuffle-hash join (never all-pairs),
    each pair emitted once from its smallest shared band, candidates
    broadcast into the shingle verify.

    Output: ``(left_id, right_id, jaccard)`` — id spaces may overlap
    freely (ids never compare across sides).
    """
    band_hashes = _minhash_bands(num_hashes, bands)
    rid = right_id_col or id_col
    rtext = right_text_col or text_col
    sig_l = minhash_signatures(
        left, id_col=id_col, text_col=text_col, num_hashes=num_hashes, k=k
    ).select(F.col(id_col).alias("_id"), F.lit(0).alias("_side"), "*").drop(id_col)
    sig_r = minhash_signatures(
        right, id_col=rid, text_col=rtext, num_hashes=num_hashes, k=k
    ).select(F.col(rid).alias("_id"), F.lit(1).alias("_side"), "*").drop(rid)
    cand = _band_join(
        sig_l.unionByName(sig_r),
        band_hashes,
        keep="_id, _side",
        pair="a._side = 0 AND b._side = 1",
        out="a._id AS left_id, b._id AS right_id",
    )
    return _jaccard_verify(
        cand,
        (_with_shingles(left, id_col, text_col, k), id_col, "left_id"),
        (_with_shingles(right, rid, rtext, k), rid, "right_id"),
        threshold,
    )


def _minhash_bands(num_hashes: int, bands: int) -> list[str]:
    """Band hash SQL per band: md5 of the band's ``num_hashes // bands``
    concatenated minhash columns (``mh_<i>``)."""
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")
    return [
        "md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows_per_band + r}" for r in range(rows_per_band))
        + "))"
        for b in range(bands)
    ]


def _band_join(
    sigs: DataFrame, bands: list[str], *, keep: str, pair: str, out: str
) -> DataFrame:
    """LSH candidate pairs: explode each row of ``sigs`` into one bucket
    row per band (``bands`` are SQL expressions over ``sigs``), self-join
    the buckets on ``(band, band_hash)`` under the extra condition
    ``pair`` and select ``out``; ``keep`` lists the ``sigs`` columns the
    bucket rows carry (``a.``/``b.`` in ``pair`` and ``out``).

    - One SQL statement: the Column-API build of this join was ~1000
      Py4J round trips (~0.5 s per plan build).
    - Shuffle-hash, NOT broadcast: broadcasting one side of a self-join
      computes the signature subtree a second time and pulls one copy
      through the driver. With both sides shuffled on the bucket keys
      the exchanges canonicalize identically and are computed once
      (ReusedExchange).
    - A pair sharing several bands is emitted ONCE, from its smallest
      shared band: every row carries all its band hashes as ``bhs``, and
      every earlier band must differ. This replaces a distinct() and its
      extra shuffle of the candidate set.
    """
    structs = ", ".join(
        f"named_struct('band', {i}, 'band_hash', {h})" for i, h in enumerate(bands)
    )
    earlier_differ = "".join(
        f" AND (a.band <= {c} OR a.bhs[{c}] != b.bhs[{c}])"
        for c in range(len(bands) - 1)
    )
    return sigs.sparkSession.sql(
        f"""
        WITH buckets AS (
          SELECT {keep}, array({", ".join(bands)}) AS bhs, bb.band, bb.band_hash
          FROM {{sigs}} LATERAL VIEW explode(array({structs})) AS bb
        )
        SELECT /*+ SHUFFLE_HASH(a, b) */ {out}
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.band_hash = b.band_hash
         AND {pair}{earlier_differ}
        """,
        sigs=sigs,
    )


def _jaccard_verify(cand: DataFrame, a, b, threshold: float) -> DataFrame:
    """Keep the candidate pairs whose exact shingle-set Jaccard
    (``array_intersect`` / ``array_union``) is at least ``threshold``.
    ``a`` and ``b`` are ``(shingles, id_col, name)`` per side: a
    :func:`_with_shingles` frame, its id column, and that id's column
    name in ``cand``. Output: ``(a name, b name, jaccard)``.

    The CANDIDATE side is broadcast explicitly: it is tiny after LSH
    (that is the point of banding), while the shingle sides carry the
    heavy arrays; letting the planner broadcast a shingle side would
    recompute it driver-side.
    """
    (sh_a, id_a, na), (sh_b, id_b, nb) = a, b
    sa = sh_a.select(F.col(id_a).alias(na), F.col("shingles").alias("sh_a"))
    sb = sh_b.select(F.col(id_b).alias(nb), F.col("shingles").alias("sh_b"))
    return (
        sb.join(F.broadcast(sa.join(F.broadcast(cand), na)), nb)
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(na, nb, "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle index.

    ``explode`` distinct shingles → self-join on the shingle (inverted
    index: only docs sharing a shingle ever meet) → intersection counts
    per pair → Jaccard from per-doc set sizes. ``max_df`` drops shingles
    appearing in more than that many docs — the stopword-gram guard that
    keeps hot-shingle buckets from going quadratic at scale.
    """
    sh = _with_shingles(df, id_col, text_col, k)
    # explode_outer + null filter: see minhash_signatures (generator
    # filter inference would re-inline the shingle pipeline into the scan).
    # The doc's set size rides along on every index row: two small ints
    # through the join beat two extra shuffles of the (much larger)
    # intersection table to look the sizes up afterwards.
    inv = sh.select(
        F.col(id_col),
        F.size("shingles").alias("sz"),
        F.explode_outer("shingles").alias("sh"),
    ).filter(F.col("sh").isNotNull())
    if max_df is not None:
        w = Window.partitionBy("sh")
        inv = inv.withColumn("df_", F.count(F.lit(1)).over(w)).filter(
            F.col("df_") <= max_df
        ).drop("df_")
    # shuffle-hash self-join: see _band_join — keeps the shingle
    # pipeline computed once (reused exchange) instead of broadcasting
    # one full copy through the driver
    a = inv.hint("shuffle_hash").alias("a")
    b = inv.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("a.sz").alias("sz_a"),
            F.first("b.sz").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def latest_by_key(
    df: DataFrame,
    *,
    keys,
    order_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Keep the LATEST record per key — the upsert/CDC compaction every
    incremental corpus needs (re-crawled URLs, re-ingested documents,
    versioned annotations): one row per key, the one with the greatest
    ``order_col``.

    Scale shape: implemented as ONE map-side-combinable aggregation —
    ``max(struct(order_col [, tiebreak], row))`` — NOT the
    ``row_number() OVER (PARTITION BY key ORDER BY ts DESC)`` idiom.
    The window form shuffles and SORTS every raw row and serializes
    each hot key onto one reducer; the aggregate form reduces each
    partition to one candidate per key before the exchange, so shuffle
    volume is keys × tasks and hot keys cost nothing extra (the same
    partial-aggregation argument as the sketches).

    Determinism: ties on ``order_col`` break by ``tiebreak`` (give one
    whenever ``(keys, order_col)`` is not unique — e.g. an ingest
    sequence number or content hash); struct comparison is
    lexicographic, so the kept row is a pure function of the data.

    Output: the full rows of the winners, key columns first.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    payload = [c for c in df.columns if c not in keys]
    ordering = [F.col(order_col)] + ([F.col(tiebreak)] if tiebreak else [])
    packed = F.struct(
        *[o.alias(f"_o{i}") for i, o in enumerate(ordering)],
        F.struct(*[F.col(c) for c in payload]).alias("_row"),
    )
    won = df.groupBy(*keys).agg(F.max(packed).alias("_w"))
    return won.select(*keys, *[F.col(f"_w._row.{c}").alias(c) for c in payload])


def duplicate_clusters(
    pairs: DataFrame,
    *,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every doc
    in a transitive duplicate cluster gets the cluster's minimum doc id
    (the canonical representative to keep).

    Iterative min-label propagation — the standard distributed CC
    algorithm (what a dedup pipeline runs after candidate verification
    to collapse A~B~C chains): each round every node takes the min
    label among itself and its neighbors; converges in O(diameter)
    rounds. Each round is one shuffle join + one aggregate;
    ``localCheckpoint`` cuts the growing lineage so round N's plan does
    not replay rounds 1..N-1. Near-dup graphs are overwhelmingly tiny
    components, so diameter (and the round count) stays small at any
    corpus size.

    Fault-tolerance trade (r17 note): ``localCheckpoint`` blocks live
    on executors only, so an executor lost mid-run fails the query
    rather than recomputing — acceptable for these edge-list/label
    frames (bounded, rebuilt from parquet on a whole-query retry); on
    a failure-prone cluster use a reliable ``checkpoint()`` with a
    durable checkpoint dir at the same sites.

    Raises ``RuntimeError`` when labels still change in round
    ``max_iter`` (a component whose diameter is ``max_iter`` or more):
    the labels at that point split a component into several clusters.
    """
    # symmetrize with ONE pass over pairs (explode of both directions)
    # — a fwd/rev union would re-execute the whole upstream pair
    # pipeline (minhash signatures + band join + verify) twice inside
    # the checkpoint job
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    comp_t = dict(labels.dtypes)["comp"]
    for _ in range(max_iter):
        neighbor = edges.join(
            labels, edges.dst == labels.id
        ).select(F.col("src").alias("id"), F.col("comp"))
        # The previous label rides THROUGH the aggregate (each id's one
        # self row contributes it, neighbor rows contribute NULL and
        # min() skips nulls), so the convergence check is a filter on
        # the aggregate's own output — no join against the old frame —
        # and with a LAZY checkpoint the changed-count action doubles
        # as the materializing job: ONE job per round instead of two
        # (eager checkpoint + join-count), and one fewer per-round
        # shuffle (r16).
        new_labels = (
            labels.select("id", "comp", F.col("comp").alias("_prev"))
            .union(
                neighbor.select(
                    "id", "comp", F.lit(None).cast(comp_t).alias("_prev")
                )
            )
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("_prev").alias("_prev"))
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("comp") != F.col("_prev")).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in max_iter={max_iter} "
            "rounds; raise max_iter"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id"))


def keep_best(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    quality_col: str,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 30,
) -> DataFrame:
    """Resolve duplicate clusters to ONE survivor each — the step
    between pair emission and the actual training corpus: pair lists
    say *what matches*, this says *which copy to keep*.

    Clusters come from :func:`duplicate_clusters` (transitive min-label
    components over ``pairs``); unpaired docs are their own singleton
    cluster. The survivor is the cluster member with the highest
    ``quality_col``, ties broken by minimum id — fully deterministic,
    so reruns and repartitionings keep the same corpus.

    Returns one row PER INPUT DOC: ``(id_col, cluster_id, keep_id,
    kept, n_members)`` — the per-doc verdict frame a curation pass
    filters on (``kept``) or audits (``n_members > 1``). Raises
    ``RuntimeError`` when the components do not converge in
    ``max_iter`` rounds (see :func:`duplicate_clusters`).

    Scale shape: the component labels are pair-node-sized (tiny next
    to the corpus); the docs⋈labels join and the keep-id join are both
    keyed equi-joins AQE can broadcast when the duplicate graph is
    small, and the per-cluster argmax is ONE map-side-combinable
    ``max_by`` aggregate — no windows over the corpus, no all-pairs
    stage anywhere.
    """
    clusters = duplicate_clusters(
        pairs, a_col=a_col, b_col=b_col, max_iter=max_iter
    )
    d = df.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(quality_col).alias("_q"),
    )
    lab = d.join(
        clusters, d["_id"] == clusters["doc_id"], "left"
    ).select(
        "_id",
        "_q",
        F.coalesce(F.col("cluster_id"), F.col("_id")).alias("cluster_id"),
    )
    # survivor per cluster: max quality, then min id — the negated id
    # inside the ordering struct makes the argmax unique, so max_by is
    # deterministic (no ties ever reach it)
    best = lab.groupBy("cluster_id").agg(
        F.max_by("_id", F.struct(F.col("_q"), (-F.col("_id")).alias("_nid"))).alias(
            "keep_id"
        ),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        lab.join(best, "cluster_id")
        .select(
            F.col("_id").alias(id_col),
            "cluster_id",
            "keep_id",
            (F.col("_id") == F.col("keep_id")).alias("kept"),
            "n_members",
        )
    )


# SimHash: 48-bit fingerprints (12 md5 hex chars per token hash) with
# 4 × 12-bit chunk banding for candidate generation.
_SIMHASH_BITS = 48
_SIMHASH_CHUNKS = 4


def simhash_fingerprints(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """48-bit SimHash per document over whitespace tokens.

    Bit ``b`` of the fingerprint is the majority vote of bit ``b``
    across all token hashes (+1 if set, −1 if not; tie → 0), weighted
    by token frequency (every occurrence votes). Relational shape:
    explode tokens → one hash aggregate per doc with 48 vectorized
    ``sum(CASE ...)`` columns — a single shuffle on the doc id, fully
    codegen'd (a nested higher-order-function formulation is
    interpreted per element and orders of magnitude slower).
    """
    # One parameterized spark.sql call for the whole explode→vote→pack
    # pipeline: the equivalent Column-API construction is ~100s of Py4J
    # roundtrips and cost ~1 s of driver time PER PLAN BUILD (measured —
    # bench counts plan build); the resolved plan is identical, and the
    # JVM parses the ~5 KB statement in milliseconds.
    votes = ", ".join(
        f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return df.sparkSession.sql(
        f"""
        WITH tok AS (
          SELECT {id_col},
                 CAST(conv(substring(md5(tok), 1, 12), 16, 10) AS BIGINT) AS h
          FROM (
            SELECT {id_col}, tok
            FROM {{src}} LATERAL VIEW explode(split({text_col}, ' ')) AS tok
            WHERE tok != ''
          )
        ),
        v AS (SELECT {id_col}, {votes} FROM tok GROUP BY {id_col})
        SELECT {id_col}, CAST({fp} AS BIGINT) AS simhash FROM v
        """,
        src=spread(df, id_col).select(id_col, text_col),
    )


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidates: pairs sharing at least one of the 4 × 12-bit chunks,
    through :func:`_band_join` (pigeonhole: a pair within Hamming
    distance 3 differs in at most 3 chunks, so for ``max_distance <= 3``
    recall is exact; larger distances trade recall for the same
    bucket-join cost). Then the exact distance filter via
    ``bit_count(a ^ b)``.
    """
    fps = simhash_fingerprints(df, id_col=id_col, text_col=text_col)
    chunk_bits = _SIMHASH_BITS // _SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    return _band_join(
        fps,
        [
            f"shiftright(simhash, {c * chunk_bits}) & {mask}"
            for c in range(_SIMHASH_CHUNKS)
        ],
        keep=f"{id_col}, simhash",
        pair=f"a.{id_col} < b.{id_col}",
        out=f"a.{id_col} AS a_id, b.{id_col} AS b_id, "
        "bit_count(a.simhash ^ b.simhash) AS hamming",
    ).where(f"hamming <= {int(max_distance)}")


def srp_plane(plane: int, dim: int) -> float:
    """Deterministic signed-random-projection weight for (plane, dim):
    md5-derived uniform in [−0.5, 0.5). Reproducible in SQL as
    ``(('0x' || substring(md5(p||'|'||d), 1, 15))::BIGINT % 1000) / 1000
    - 0.5`` — but since the matrix is input-independent we inline it as
    literals on both sides instead of recomputing per row."""
    h = hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()
    return (int(h[:15], 16) % 1000) / 1000.0 - 0.5


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    method: str = "auto",
    lsh_planes: int = 16,
    exact_max_rows: int = 100_000,
) -> DataFrame:
    """Embedding near-duplicate pairs by cosine similarity.

    ``method`` picks the physical strategy; the default ``"auto"`` is
    the scale gate — exact for small corpora, bucketed above:

    - ``"exact"``: all-pairs via blocked numpy matmul
      (:func:`_blocked_allpairs_cosine`). O(N²) work regardless of
      blocking — the verification baseline, NOT a 100 TB plan.
    - ``"lsh"``: signed random projections — each vector gets an
      ``lsh_planes``-bit bucket from the signs of deterministic
      hyperplane dots (:func:`srp_plane` literals, JVM-evaluated);
      pairs must share the bucket before the exact cosine check. The
      bucket equi-join replaces the O(N²) cross join; near-identical
      vectors agree on every sign with probability ``1 − θ/π`` per
      plane, so true near-dups (θ≈0) are kept with high probability
      while the candidate volume drops by ~2^planes. Approximate by
      construction — the scale path.
    - ``"auto"``: exact while the corpus has ≤ ``exact_max_rows``
      vectors (one cheap count against parquet metadata), LSH beyond —
      so the default NEVER silently runs O(N²) on a large corpus.

    Output ``(a_id, b_id, cos_sim)`` with ``a_id < b_id``. ``"lsh"``
    takes the dimension from the first non-NULL vector; with none it
    returns an empty frame. A NULL vector is in no pair.
    """
    if method not in ("auto", "exact", "lsh"):
        raise ValueError(f"method must be auto|exact|lsh, got {method!r}")
    if method == "auto":
        method = "exact" if df.count() <= exact_max_rows else "lsh"
    v = _normed(df, id_col, vec_col, [])
    if method == "lsh":
        dim = _vec_dim(df, vec_col)
        if dim is None:
            id_type = dict(df.dtypes)[id_col]
            return df.sparkSession.createDataFrame(
                [], f"a_id {id_type}, b_id {id_type}, cos_sim double"
            )
        v = v.withColumn("bucket", srp_bucket(F.col("v"), lsh_planes, dim))
        a = v.hint("shuffle_hash").alias("a")
        b = v.hint("shuffle_hash").alias("b")
        join_cond = (F.col("a.bucket") == F.col("b.bucket")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        return (
            a.join(b, join_cond)
            .select(
                F.col(f"a.{id_col}").alias("a_id"),
                F.col(f"b.{id_col}").alias("b_id"),
                (
                    _dot(F.col("a.v"), F.col("b.v"))
                    / (F.col("a.nrm") * F.col("b.nrm"))
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    return _blocked_allpairs_cosine(
        v.drop("nrm").where(F.col("v").isNotNull()), id_col=id_col, threshold=threshold
    )


def _blocked_allpairs_cosine(
    v: DataFrame, *, id_col: str, threshold: float, blocks: int = 8
) -> DataFrame:
    """Exact all-pairs cosine as a blocked matrix product.

    An element-wise SQL dot (`zip_with`+`aggregate`) is interpreted per
    pair — O(N²·dim) interpreted ops. Instead: split vectors into
    ``blocks`` hash blocks, enumerate the ``B(B+1)/2`` unordered block
    pairs (a broadcast of a tiny literal table — each vector is
    replicated ~B/2 times), cogroup both blocks of each pair, and score
    them with ONE numpy matmul per block pair. Each unordered vector
    pair lands in exactly one block-pair group (twice when the blocks
    coincide — deduped by pair normalization), so no global distinct is
    needed. ``blocks`` scales with the cluster: block size just has to
    fit in a worker.
    """
    spark = v.sparkSession
    id_type = dict(v.dtypes)[id_col]
    pairs_meta = spark.createDataFrame(
        [
            (pa * blocks + pb, pa, pb)
            for pa in range(blocks)
            for pb in range(pa, blocks)
        ],
        "pid int, pa int, pb int",
    )
    vb = v.withColumn("blk", bucket(blocks, id_col).cast("int"))
    left = vb.join(
        F.broadcast(pairs_meta), vb["blk"] == pairs_meta["pa"]
    ).select("pid", id_col, "v")
    right = vb.join(
        F.broadcast(pairs_meta), vb["blk"] == pairs_meta["pb"]
    ).select("pid", id_col, "v")

    def score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> dict:
        if rpdf.empty:
            return {"a_id": [], "b_id": [], "cos_sim": []}
        la = np.stack(lpdf["v"].to_numpy())
        rb = np.stack(rpdf["v"].to_numpy())
        la = la / np.linalg.norm(la, axis=1, keepdims=True)
        rb = rb / np.linalg.norm(rb, axis=1, keepdims=True)
        sims = la @ rb.T
        ia, ib = np.nonzero(sims >= threshold)
        aid = lpdf[id_col].to_numpy()[ia]
        bid = rpdf[id_col].to_numpy()[ib]
        keep = aid != bid
        aid, bid, s = aid[keep], bid[keep], sims[ia[keep], ib[keep]]
        lo, hi = np.minimum(aid, bid), np.maximum(aid, bid)
        # same-block groups see each unordered pair twice ((x,y),(y,x));
        # unique on the normalized pair drops the mirror
        pairs = np.stack([lo, hi], axis=1)
        _, first = np.unique(pairs, axis=0, return_index=True)
        return {"a_id": lo[first], "b_id": hi[first], "cos_sim": s[first]}

    fields = {"a_id": id_type, "b_id": id_type, "cos_sim": "double"}
    return map_groups([left, right], ["pid"], score, fields)


def duplicated_ngram_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-level duplication at word-``k``-gram granularity
    — the pass that catches repeated PASSAGES (boilerplate, licenses,
    templated spam) that document-level dedup misses because the
    surrounding text differs.

    Plan: positional k-grams per doc (position kept, unlike the
    distinct shingles of minhash) → h60 gram hash → one hash-aggregate
    shuffle counts distinct docs per gram (map-side combine) → grams
    seen in ≥ ``min_docs`` docs join back by hash → per-doc coverage:
    the union of [i, i+k) over duplicated gram starts, as Catalyst
    array algebra. No all-pairs stage anywhere; the widest shuffle is
    one row per (doc, gram position).

    Output: ``(id, n_tokens, n_grams, n_dup_grams, dup_token_frac)``
    with ``dup_token_frac`` = fraction of the doc's tokens covered by
    at least one shared k-gram. Docs shorter than ``k`` tokens emit
    zero grams and frac 0.
    """
    if k < 1 or min_docs < 2:
        raise ValueError("k must be >= 1 and min_docs >= 2")
    tok = spread(df, id_col).select(
        F.col(id_col), tokens(text_col).alias("toks")
    )
    base = tok.select(
        F.col(id_col),
        F.size("toks").alias("n_tokens"),
        F.when(F.size("toks") >= k, F.size("toks") - k + 1)
        .otherwise(F.lit(0))
        .alias("n_grams"),
        F.col("toks"),
    )
    grams = base.filter(F.col("n_grams") > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_grams") - 1),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", i + j + 1) for j in range(k)]
                ),
            )
        ).alias("pos", "gram"),
    )
    hashed = grams.select(id_col, "pos", h60(F.col("gram")).alias("gh"))
    dup_hashes = (
        hashed.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    dup_starts = (
        hashed.join(dup_hashes, "gh")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("starts"))
    )
    cover = F.size(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("starts"), lambda s: F.sequence(s, s + F.lit(k - 1))
                )
            )
        )
    )
    return (
        base.drop("toks")
        .join(dup_starts, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.size("starts"), F.lit(0)).cast("long").alias("n_dup_grams"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(cover, F.lit(0)).cast("double") / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_token_frac"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    str_col: str,
    max_dist: int = 2,
    dup_buckets: int = 32,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` (1 or 2) by
    DELETION-NEIGHBORHOOD blocking — the FastSS / SymSpell dictionary
    construction (Bocek et al., 2007), the third near-dup family next
    to MinHash (set overlap) and SimHash (cosine-ish bits): character-
    level typo/OCR variants that shingle sets blur.

    Completeness argument: an optimal alignment with ≤ k edits touches
    ≤ k characters on each side; deleting exactly the touched
    characters from both strings leaves identical residues. So every
    pair at distance ≤ k shares at least one member of their
    delete-≤k neighborhoods, and blocking on the variant string has NO
    false negatives. False positives die in the exact ``levenshtein``
    verify on the candidate set only.

    Scale shape, in three stages (VERDICT r8 #3: byte-identical
    strings are the COMMON case in a real corpus, and N copies of one
    string share every variant — the naive variant self-join makes an
    N²·|variants| hot key out of them):

    1. COLLAPSE to distinct strings first (one map-side-combinable
       aggregate), so the variant self-join runs over unique strings
       only — there each row emits ``O(len^k)`` deletion variants
       (1 + n + C(n,2) for k=2), and variant keys are near-unique
       because the strings are distinct. One equi join, a distinct on
       candidate string pairs, the exact ``levenshtein`` verify on
       candidates only. No all-pairs stage at any input size.
    2. RE-EXPAND the surviving string pairs (dist 1..k) back to id
       pairs with two joins against the id table — cardinality equals
       the output size, never an intermediate blowup.
    3. Emit the dist=0 pairs (ids sharing one exact string) via a
       BUCKETED self-join: members hash into ``dup_buckets`` buckets
       and each unordered bucket pair becomes its own join key, so a
       string with 10⁴ copies spreads its C(10⁴,2) output rows over
       ~``dup_buckets²/2`` tasks instead of one straggler. The output
       here is inherently quadratic in the group size — the bucketing
       distributes its GENERATION, which is all an engine can do.

    Keep the strings short (prefixes/keys) — the neighborhood is
    quadratic in string length for k=2.

    Output: ``(a_id, b_id, dist)`` with ``a_id < b_id``.
    """
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist!r}")
    if dup_buckets < 1:
        raise ValueError(f"dup_buckets must be >= 1, got {dup_buckets}")
    # (id, string) is the lightweight proxy for everything below —
    # corpus-metadata-sized (ids + short prefixes), never the corpus.
    # localCheckpoint it (r16): the dataflow references it four times
    # (uniq build, both re-expansion sides, dup members) and Catalyst
    # re-inlines the whole input scan + projection at every reference
    # — the pre-r16 physical plan carried 8 input scans; now exactly 1.
    # Executor-local blocks: an executor loss mid-query fails the query
    # instead of recomputing (r17 note) — fine for these metadata-sized
    # proxies; swap for reliable checkpoint() on lossy clusters.
    base = (
        spread(df, id_col)
        .select(F.col(id_col).alias("_id"), F.col(str_col).alias("_s"))
        .localCheckpoint(eager=True)
    )
    # stage 1: distinct strings with a representative id (min — any
    # deterministic pick works; it only canonicalizes pair orientation)
    # + the member count, so the dist=0 stage below reuses this single
    # aggregate instead of re-counting the input per string (r16).
    uniq = base.groupBy("_s").agg(
        F.min("_id").alias("_rid"), F.count(F.lit(1)).alias("_c")
    ).localCheckpoint(eager=True)
    s = F.col("_s")
    n = F.length(s)

    def drop1(i):
        return F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, n))

    def drop2(i, j):  # j > i; remove both positions
        return F.concat(
            s.substr(F.lit(1), i - 1),
            s.substr(i + 1, j - i - 1),
            s.substr(j + 1, n),
        )

    variants = F.array_union(F.array(s), F.transform(F.sequence(F.lit(1), n), drop1))
    if max_dist == 2:
        pairs2 = F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, n), lambda j: drop2(i, j)
                ),
            )
        )
        variants = F.array_union(variants, pairs2)
    keyed = uniq.select("_rid", "_s", F.explode(variants).alias("_v"))
    left = keyed.select(
        F.col("_rid").alias("_ra"), F.col("_s").alias("_sa"), "_v"
    )
    right = keyed.select(
        F.col("_rid").alias("_rb"), F.col("_s").alias("_sb"), "_v"
    )
    spairs = (
        left.join(right, "_v")
        .filter(F.col("_ra") < F.col("_rb"))
        .select("_sa", "_sb")
        .distinct()
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .filter(F.col("dist") <= max_dist)  # dist >= 1: strings differ
    )
    # stage 2: string pairs -> id pairs (join cardinality = output size)
    ea = base.select(F.col("_id").alias("_ida"), F.col("_s").alias("_sa"))
    eb = base.select(F.col("_id").alias("_idb"), F.col("_s").alias("_sb"))
    cross = (
        spairs.join(ea, "_sa")
        .join(eb, "_sb")
        .select(
            F.least("_ida", "_idb").alias("a_id"),
            F.greatest("_ida", "_idb").alias("b_id"),
            "dist",
        )
    )
    # stage 3: exact-duplicate (dist=0) pairs, bucketed so hot strings
    # spread. Pair {x, y} with buckets bx <= by joins exactly once: the
    # left side explodes each member over (its bucket .. B-1) as the
    # probe bucket, the right side keys on its own bucket, and the
    # (bx < by) | (bx == by & id order) filter kills the mirror.
    b_ = bucket(dup_buckets, F.col("_id").cast("string"))
    dup_strings = uniq.filter(F.col("_c") >= 2).select("_s")
    members = base.join(dup_strings, "_s").withColumn("_b", b_)
    wl = members.select(
        "_s",
        F.col("_id").alias("_ida"),
        F.col("_b").alias("_ba"),
        F.explode(F.sequence(F.col("_b"), F.lit(dup_buckets - 1))).alias("_q"),
    )
    wr = members.select(
        "_s", F.col("_id").alias("_idb"), F.col("_b").alias("_q")
    )
    within = (
        wl.join(wr, ["_s", "_q"])
        .filter(
            (F.col("_ba") < F.col("_q"))
            | ((F.col("_ba") == F.col("_q")) & (F.col("_ida") < F.col("_idb")))
        )
        .select(
            F.least("_ida", "_idb").alias("a_id"),
            F.greatest("_ida", "_idb").alias("b_id"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.unionAll(within).select("a_id", "b_id", "dist")


def apply_cdc(
    df: DataFrame,
    *,
    keys,
    order_col: str,
    op_col: str,
    delete_op: str = "D",
    tiebreak: str | None = None,
) -> DataFrame:
    """Materialize the final state of a CDC/changelog stream: for each
    key keep the LAST change by ``order_col``, and drop the key
    entirely when that change is a delete tombstone (``op_col ==
    delete_op``) — upsert-apply semantics (the MERGE INTO / compacted-
    topic contract).

    Scale shape: :func:`latest_by_key`'s max(struct) single-aggregation
    plan (candidates reduce map-side, hot keys free), with the
    tombstone filter as a post-aggregate projection — deletes cost
    nothing extra and never resurrect older versions, because the
    filter runs on the WINNING row only.

    Output: the surviving rows (key columns first), ``op_col``
    included for audit.
    """
    winners = latest_by_key(
        df, keys=keys, order_col=order_col, tiebreak=tiebreak
    )
    return winners.filter(F.col(op_col) != F.lit(delete_op))
