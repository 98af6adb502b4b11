"""Iterative graph algorithms on edge DataFrames.

The LLM-data-pipeline motivation: web-crawl curation ranks domains/
pages by link authority (PageRank feeding crawl-priority and quality
priors), and duplicate clusters (pipeline/dedup.py duplicate_clusters)
already need the connected-components half of this family. This module
adds the rank half.

``pagerank`` is one lazy query: building it runs no Spark job, takes
no ``localCheckpoint`` and collects nothing. The global dangling-mass
term every power iteration needs is not computed inside the loop.
Power iteration is affine in the ranks, so the loop propagates along
edges only and a closing 1-row aggregate resolves the uniform terms
afterwards (derivation in the ``pagerank`` docstring).
Each iteration then reads its predecessor once, and the plan grows
linearly with the iteration count.

``triangle_count`` is non-iterative: degree-ordered orientation, three
hash-join shuffles and a corner-count aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["pagerank", "triangle_count"]


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Semantics (the classic normalized formulation): ranks start uniform
    at 1/N over the N distinct vertices; each iteration every vertex
    sends ``rank/out_degree`` along its out-edges, dangling vertices
    (no out-edges) spread their whole rank uniformly, and the new rank
    is ``(1-d)/N + d * (received + dangling_mass/N)``. Σ rank = 1 at
    every iteration. Multi-edges contribute once per edge (pre-
    ``distinct`` the input to change that); self-loops count.

    Bad input: edges with a NULL ``src`` or ``dst`` are dropped before
    anything else, so a NULL endpoint never becomes a vertex or counts
    in N. An edge frame with no (remaining) edges gives an empty
    ``(node, rank)`` frame, with no error.

    Returns ``(node, rank)`` with one row per distinct vertex.

    Derivation. Let ``v_0 = 1`` and ``v_{k+1}[w] = d * Σ_{u→w}
    v_k[u]/outdeg(u)``: edge-only propagation with no global term. Let
    ``D_k = Σ_{u dangling} v_k[u]``. Then, by induction on the power
    iteration,

        rank_t = v_t/N + Σ_{j<t} c_j * v_{t-1-j}
        c_j    = (1-d)/N + (d/N) * (D_j/N + Σ_{i<j} c_i * D_{j-1-i})

    so the loop carries each vertex's history ``h = [v_0 .. v_k]`` and
    never needs N or the dangling mass.

    Plan shape:

    - build: one aggregate by vertex (each edge explodes to
      ``(src, dst)`` and ``(dst, NULL)``, then ``collect_list``) gives
      every vertex its out-list;
    - each iteration: a vertex row ``(node, out, h)`` explodes into
      one self row plus one message per out-edge, and ONE aggregate by
      vertex sums the messages and keeps the self row's state with
      ``collect_list(state)[0]`` (exactly one non-NULL state per key;
      ``collect_list`` plans an object hash aggregate where ``first``
      over a struct would plan a sort aggregate, though past
      ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``
      keys in a task it falls back to sorting too). Partials combine
      map-side, so a hot destination costs no extra shuffle rows;
    - close: one 1-row aggregate over the last frame gives N and
      ``D_0 .. D_{t-1}``, one projection of that row folds the
      recurrence into ``c = [c_0 .. c_{t-1}]``, and a broadcast cross
      join applies the final linear combination. The last frame is
      read twice; AQE reuses its exchange.

    The iteration and the closing step are SQL text: every Column-API
    call is a py4j round trip, and as SQL text a 10-iteration build
    makes about 700 of them.

    Cost model: a row carries its out-list and its history, so its
    width grows by one double per iteration, and every iteration's
    shuffle carries the out-lists. A vertex's out-list is one array
    value, so a hub's out-degree is bounded by what one row may hold in
    memory. Retry: with no ``localCheckpoint``, a lost executor is
    recomputed from lineage.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    d = f"{float(damping)!r}D"

    frame = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where("_s IS NOT NULL AND _d IS NOT NULL")
        .selectExpr(
            "inline(array(struct(_s AS node, _d AS tgt), "
            "struct(_d AS node, NULL AS tgt)))"
        )
        .groupBy("node")
        .agg(F.expr("collect_list(tgt) AS out"))
        .selectExpr("node", "out", "array(1D) AS h")
    )
    for _ in range(iterations):
        frame = (
            frame.selectExpr("*", "explode(sequence(0, size(out))) AS i")
            .selectExpr(
                "IF(i = 0, node, out[i - 1]) AS node",
                "IF(i = 0, struct(out, h), NULL) AS st",
                f"IF(i = 0, NULL, {d} * element_at(h, -1) / size(out)) AS m",
            )
            .groupBy("node")
            .agg(
                F.expr("collect_list(st)[0].out AS out"),
                F.expr(
                    "concat(collect_list(st)[0].h, array(coalesce(sum(m), 0D))) AS h"
                ),
            )
        )
    t = iterations
    sums = ", ".join(f"sum(IF(size(out) = 0, h[{k}], 0D))" for k in range(t))
    # c_j folded left to right: c is [c_0 .. c_{j-1}] when x = D_j
    coef = (
        frame.selectExpr(
            "CAST(count(1) AS DOUBLE) AS n",
            f"CAST(array({sums}) AS ARRAY<DOUBLE>) AS dm",
        )
        .where("n > 0")
        .selectExpr(
            "n",
            "aggregate(dm, CAST(array() AS ARRAY<DOUBLE>), (c, x) -> concat(c, array("
            f"(1D - {d}) / n + {d} / n * (x / n + aggregate(zip_with(c, "
            "reverse(slice(dm, 1, size(c))), (a, b) -> a * b), 0D, (s, y) -> s + y))"
            "))) AS c",
        )
    )
    rank = " + ".join(
        [f"h[{t}] / n"] + [f"c[{j}] * h[{t - 1 - j}]" for j in range(t)]
    )
    return frame.crossJoin(F.broadcast(coef)).selectExpr("node", f"{rank} AS rank")


def triangle_count(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts over an undirected graph, by
    degree-ordered edge orientation (the standard no-blowup
    formulation; e.g. Suri & Vassilvitskii, "Counting Triangles and
    the Curse of the Last Reducer", WWW'11).

    Semantics: the input edge list is symmetrized and canonicalized
    (self-loops dropped, both directions and multi-edges collapse into
    one undirected edge ``a < b``); a triangle is any 3-clique, counted
    once per corner vertex. Returns ``(node, n_tri)`` for every vertex
    in at least one triangle.

    Plan shape — why this survives 100 TB: the naive 3-way self-join
    explodes on hubs (a degree-d vertex yields d² wedges). Orienting
    every edge from its (degree, id)-SMALLER endpoint to the larger
    caps the out-degree of ANY vertex at O(sqrt(edges)), so the wedge
    join emits at most m^1.5 candidates in total — the proven bound —
    and each stage is a plain hash join Catalyst can shuffle on the
    join key. Three shuffles total (degree agg, wedge join, closing
    edge join) + the final corner-count aggregate; no iteration, no
    driver state.

    The canonical edge list and the oriented edge list are each
    ``localCheckpoint``-ed (r16): the downstream dataflow references
    ``e`` five times and ``fwd`` three times, and Catalyst inlines a
    fresh copy of the whole upstream (input scan + canonicalizing
    distinct) at every reference — the pre-r16 physical plan carried
    ~45 copies of the edge subtree / 90 input scans. Both frames are
    edge-list-sized (the small side of the problem at corpus scale),
    so the two materializations replace O(plan-copies) input scans
    with exactly one.

    Fault-tolerance trade (r17 note): ``localCheckpoint`` stores the
    blocks on executors only — losing an executor mid-query kills the
    query instead of recomputing the lost partitions. Acceptable here
    because both frames are bounded intermediates rebuilt from parquet
    on retry of the whole query; on a real multi-tenant cluster where
    executor loss is routine, swap in a reliable ``checkpoint()``
    (``spark.sparkContext.setCheckpointDir`` to durable storage) at
    the same two call sites.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # one pass over e (explode, not a 2-way unionAll of the subtree)
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each undirected edge from the (deg, id)-smaller endpoint
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    fwd = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=True)
    )
    # wedges u->(v,w) from u's oriented neighbor pairs; close with the
    # oriented edge v->w (v before w in the same order, so each
    # triangle matches exactly once)
    # no join-strategy hints (r16 A/B): forcing shuffled-hash here
    # measured 2.90 s vs sort-merge's 2.32 s — the wedge self-join's
    # two sides shuffle identically, so SMJ reuses one exchange and
    # the sorts are cheap on the oriented list.
    f1 = fwd.select(F.col("u"), F.col("v"))
    f2 = fwd.select(F.col("u"), F.col("v").alias("w"))
    wedges = f1.join(f2, "u").filter(F.col("v") < F.col("w"))
    closing = fwd.select(
        F.col("u").alias("v"), F.col("v").alias("w")
    ).withColumn(
        "cw",
        F.when(F.col("v") < F.col("w"), F.struct("v", "w")).otherwise(
            F.struct(F.col("w").alias("v"), F.col("v").alias("w"))
        ),
    ).select(F.col("cw.v").alias("v"), F.col("cw.w").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    # one pass over tri (explode, not a 3-way unionAll that would
    # re-execute the wedge + closing joins three times)
    corners = tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))
