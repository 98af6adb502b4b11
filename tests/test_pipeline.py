"""Pipeline unit tests (the contract's DuckDB oracles are the deep
checks; these pin the local semantics without a Spark↔DuckDB pair)."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

import xarray_scipy_spark.pipeline as pl


def _docs_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    "abcdefgh12345678XXXXXXXXtail",  # 3 full frames + tail
                    "short",  # < 1 frame
                    "abcdefgh" * 6,  # 6 full frames
                ],
            }
        )
    )


def test_frame_sample_stride_and_features(spark):
    df = pl.with_binary(_docs_df(spark))
    out = pl.frame_sample(df, frame_bytes=8, every=3).toPandas()
    per = out.groupby("doc_id")["frame_idx"].apply(list).to_dict()
    # doc 0: frames 0,1,2 -> sampled [0]; doc 1: none; doc 2: 6 -> [0, 3]
    assert per.get(0) == [0]
    assert 1 not in per
    assert sorted(per.get(2)) == [0, 3]
    row = out[(out.doc_id == 0) & (out.frame_idx == 0)].iloc[0]
    assert row["f0"] == float(hashlib.md5(b"abcdefgh").digest()[0])


def test_resize_payload_truncate_and_pad(spark):
    df = pl.with_binary(_docs_df(spark))
    out = pl.resize_payload(df, target_bytes=16).toPandas().set_index("doc_id")
    assert (out["n_bytes"] == 16).all()
    assert bytes(out.loc[1, "payload"]) == b"short" + b"." * 11
    assert bytes(out.loc[2, "payload"]) == b"abcdefgh" * 2
    assert out.loc[1, "digest"] == hashlib.md5(b"short" + b"." * 11).hexdigest()


def test_binary_operators_pass_null_payloads(spark):
    """A NULL payload among valid rows: decode_features/decode_text give
    NULL n_bytes and NULL outputs without calling the decoder,
    resize_payload gives NULL payload/n_bytes/digest, frame_sample
    emits no frames for it, and the valid rows are unaffected."""
    import numpy as np

    from xarray_scipy_spark.pipeline.multimodal import encode_avi_mjpeg

    texts = {0: "abcdefgh" * 3, 2: "xyz"}
    gz = {d: pl.gzip_text_encoder(t) for d, t in texts.items()}
    df = spark.createDataFrame(
        [(0, bytearray(gz[0])), (1, None), (2, bytearray(gz[2]))],
        "doc_id bigint, payload binary",
    )

    def decoder(payload, n):
        assert payload is not None
        return [float(len(payload)), float(payload[0])][:n]

    feats = pl.decode_features(df, n_features=2, decoder=decoder).collect()
    feats = {r.doc_id: r for r in feats}
    assert (feats[1].n_bytes, feats[1].f0, feats[1].f1) == (None, None, None)
    for d in (0, 2):
        assert feats[d].n_bytes == len(gz[d])
        assert (feats[d].f0, feats[d].f1) == (float(len(gz[d])), float(gz[d][0]))

    text = {r.doc_id: r for r in pl.decode_text(df).collect()}
    assert (text[1].n_bytes, text[1].text) == (None, None)
    assert {d: text[d].text for d in (0, 2)} == texts

    resized = {r.doc_id: r for r in pl.resize_payload(df, target_bytes=16).collect()}
    assert resized[1].payload is None
    assert (resized[1].n_bytes, resized[1].digest) == (None, None)
    assert resized[0].n_bytes == 16 and bytes(resized[0].payload) == gz[0][:16]

    frames = pl.frame_sample(df, frame_bytes=8, every=1).toPandas()
    assert sorted(frames.groupby("doc_id").size().to_dict().items()) == [
        (d, len(gz[d]) // 8) for d in (0, 2)
    ]
    avi = encode_avi_mjpeg([np.full((8, 8), 40, dtype=np.uint8)] * 2)
    videos = spark.createDataFrame(
        [(0, bytearray(avi)), (1, None)], "doc_id bigint, payload binary"
    )
    out = pl.frame_sample(videos, every=1, codec="mjpeg").toPandas()
    assert sorted(out["doc_id"]) == [0, 0]


def test_series_form_roundtrip(spark, tmp_path):
    """write_series -> read_series is the identity on long-form data,
    and a value transform applied in series form matches the long form."""
    import numpy as np

    from xarray_scipy_spark.sources import read_series, write_series

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "ch": np.repeat([0, 1, 2], 40),
            "t": np.tile(np.arange(40, dtype=float), 3),
            "value": rng.standard_normal(120),
        }
    ).sample(frac=1.0, random_state=1)  # scrambled row order
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "series")
    write_series(df, path, by=["ch"], dim="t")
    back = read_series(spark, path, by=["ch"], dim="t").toPandas()
    a = pdf.sort_values(["ch", "t"]).reset_index(drop=True)
    b = back.sort_values(["ch", "t"]).reset_index(drop=True)
    for c in ("ch", "t", "value"):
        np.testing.assert_allclose(a[c].to_numpy(dtype=float), b[c].to_numpy(dtype=float))


def test_write_partitioned_prunes(spark, tmp_path):
    import numpy as np

    from xarray_scipy_spark.sources import write_partitioned

    pdf = pd.DataFrame({"part": np.repeat([0, 1, 2, 3], 25), "v": np.arange(100)})
    path = str(tmp_path / "parts")
    write_partitioned(spark.createDataFrame(pdf), path, partition_by=["part"])
    got = spark.read.parquet(path).filter("part = 2")
    assert got.count() == 25
    # partition pruning: the physical scan reports a partition filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "part" in plan.split("PartitionFilters")[1][:80]


def test_embedding_dup_pairs_blocked_matches_bruteforce(spark):
    import numpy as np

    rng = np.random.default_rng(21)
    n, d = 120, 16
    vecs = rng.standard_normal((n, d))
    vecs[50] = vecs[10] * 2.0 + 0.01  # planted near-dup (cos ~ 1)
    vecs[71] = -vecs[30]  # planted anti-dup (cos ~ -1, must NOT pair)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"), "embedding": [list(map(float, v)) for v in vecs]}
    )
    out = pl.embedding_dup_pairs(
        spark.createDataFrame(pdf), threshold=0.6
    ).toPandas()
    nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = nv @ nv.T
    ii, jj = np.nonzero(np.triu(sims >= 0.6, k=1))
    want = sorted(zip(ii.tolist(), jj.tolist()))
    got = sorted(zip(out["a_id"].tolist(), out["b_id"].tolist()))
    assert got == want
    assert (10, 50) in got
    m = out.set_index(["a_id", "b_id"])["cos_sim"]
    np.testing.assert_allclose(m.loc[(10, 50)], sims[10, 50], atol=1e-9)


def test_contract_scans_are_pruned(spark):
    """Column pruning must reach the parquet scans: kernel queries over
    events read only (user_id, ts, value); minhash over documents reads
    only (doc_id, text). A scan reading all columns for a narrow
    projection is a plan regression at any scale."""
    from xarray_scipy_spark.contract import QUERIES

    sf = "/root/testdata/sf0.001"

    def scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            seg.split("ReadSchema: ")[1].split("\n")[0]
            for seg in plan.split("FileScan parquet")[1:]
            if "ReadSchema: " in seg
        ]

    # rfft's registration merged into fft's forward union at r9; the
    # column-pruning lock keeps reading the plain rfft pair plan
    from xarray_scipy_spark.contract import q_rfft_merged

    rfft_scans = scans(q_rfft_merged(spark, sf))
    assert rfft_scans, "no parquet scan found"
    for rs in rfft_scans:
        assert "user_id" in rs and "value" in rs
        assert "session_id" not in rs and "event_type" not in rs

    # dedup_minhash's registration is the 3-way pair-emitter union
    # since r9 (minhash + simhash + embedding) — keep the pruning lock
    # on the plain minhash plan, whose scan shape it pins
    from xarray_scipy_spark.contract import q_dedup_minhash

    mh_scans = scans(q_dedup_minhash(spark, sf))
    for rs in mh_scans:
        assert "doc_id" in rs and "text" in rs
        assert "lang" not in rs and "quality" not in rs


def test_cosine_topk_lsh_subset_of_bruteforce(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    n, d = 200, 16
    vecs = rng.standard_normal((n, d))
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"), "embedding": [list(map(float, v)) for v in vecs]}
    )
    corpus = spark.createDataFrame(pdf)
    queries = corpus.filter("vec_id < 4")
    exact = pl.cosine_topk(corpus, queries, k=n - 1).toPandas()
    lsh = pl.cosine_topk_lsh(
        corpus, queries, k=5, planes=6, probes=3
    ).toPandas()
    assert len(lsh) > 0
    # every LSH hit carries the exact cosine score (same scoring math)
    escore = exact.set_index(["query_id", "neighbor_id"])["cos_sim"]
    for _, r in lsh.iterrows():
        assert abs(escore.loc[(r["query_id"], r["neighbor_id"])] - r["cos_sim"]) < 1e-12
    # ranks are contiguous from 1 per query
    for qid, grp in lsh.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))


@pytest.mark.parametrize("case", ["empty", "null_first"])
def test_lsh_paths_take_dim_from_first_non_null_vector(spark, case):
    """Both SRP-LSH paths read the vector dimension from the first
    non-NULL embedding: an empty corpus gives an empty frame with the
    declared columns, and a NULL first row neither crashes nor pairs."""
    import numpy as np

    schema = "vec_id long, embedding array<double>"
    if case == "empty":
        df = spark.createDataFrame([], schema)
    else:
        rng = np.random.default_rng(4)
        v1, v3 = rng.standard_normal((2, 8))
        rows = [(0, None), (1, v1), (2, v1 * 2.0), (3, v3)]
        df = spark.createDataFrame(
            [(i, None if v is None else [float(x) for x in v]) for i, v in rows],
            schema,
        ).coalesce(1)
    dup = pl.embedding_dup_pairs(df, threshold=0.9, method="lsh", lsh_planes=6)
    top = pl.cosine_topk_lsh(df, df.filter("vec_id = 1"), k=1, planes=6)
    assert dup.columns == ["a_id", "b_id", "cos_sim"]
    assert top.columns == ["query_id", "rank", "neighbor_id", "cos_sim"]
    pairs = {(r["a_id"], r["b_id"]) for r in dup.collect()}
    hits = [(r["query_id"], r["neighbor_id"]) for r in top.collect()]
    if case == "empty":
        assert pairs == set() and hits == []
    else:
        assert pairs == {(1, 2)}
        assert hits == [(1, 2)]


def test_cosine_paths_skip_null_embeddings(spark):
    """A NULL embedding is neither a neighbor nor gets one: the exact
    and IVF paths drop NULL vectors, and the SRP-LSH paths give a NULL
    vector a NULL bucket, so the bucket joins never match it (planes=1
    puts half of all vectors in bucket 0, where a NULL used to land)."""
    import numpy as np

    rng = np.random.default_rng(12)
    vecs = {i: [float(x) for x in rng.standard_normal(6)] for i in (1, 2, 3)}
    df = spark.createDataFrame(
        [(i, vecs.get(i)) for i in range(5)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    exact = pl.cosine_topk(df, df, k=4).collect()
    lsh = pl.cosine_topk_lsh(df, df, k=4, planes=1).collect()
    cells = df.withColumn("label", F.lit(0))
    ivf = pl.cosine_topk_ivf(cells, cells, k=4).collect()
    for r in exact + lsh + ivf:
        assert {r["query_id"], r["neighbor_id"]} <= {1, 2, 3}
        assert r["cos_sim"] is not None
    assert {r["query_id"] for r in exact} == {r["query_id"] for r in ivf} == {1, 2, 3}
    dup = pl.embedding_dup_pairs(df, threshold=-1.0, method="lsh", lsh_planes=1)
    assert all({r["a_id"], r["b_id"]} <= {1, 2, 3} for r in dup.collect())
    pairs = pl.embedding_dup_pairs(df, threshold=-1.0, method="exact").collect()
    assert {(r["a_id"], r["b_id"]) for r in pairs} == {(1, 2), (1, 3), (2, 3)}


@pytest.mark.parametrize("path", ["exact", "ivf", "lsh", "kmeans"])
def test_vector_with_null_element_counts_as_null(spark, path):
    """A vector with a NULL element is a NULL vector on every path: the
    output with it equals the output without it (nobody's neighbour,
    no neighbours, no cell). Before, IVF and LSH ranked it with a NULL
    ``cos_sim``, k-means put it in cell 0, and the exact path's NaN
    row took a top-k slot in its batch."""
    import numpy as np

    rng = np.random.default_rng(21)
    rows = [(i, [float(x) for x in rng.standard_normal(3)]) for i in range(6)]
    rows.append((6, [None, 1.0, 0.5]))
    schema = "vec_id long, embedding array<double>"

    def run(df):
        if path == "exact":
            return pl.cosine_topk(df, df, k=2)
        if path == "ivf":
            cells = df.withColumn("label", F.lit(0))
            return pl.cosine_topk_ivf(cells, cells, k=8)
        if path == "lsh":
            return pl.cosine_topk_lsh(df, df, k=8, planes=1)
        return pl.kmeans_cells(df, k=2, iters=2)

    with_null, without = (
        sorted(map(tuple, run(spark.createDataFrame(r, schema).coalesce(1)).collect()))
        for r in (rows, rows[:-1])
    )
    assert with_null == without and without


def test_cosine_topk_ivf_one_cell_equals_exact(spark):
    """With every vector in one cell, the IVF probe-and-rank is the
    exact top-k: the same neighbour ids per rank as ``cosine_topk``,
    and ``cos_sim`` within 1e-6 (the two compute the cosine apart)."""
    import numpy as np

    rng = np.random.default_rng(23)
    n, d = 120, 16
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.standard_normal((n, d)))],
        "vec_id long, embedding array<double>",
    ).withColumn("label", F.lit(0))
    queries = corpus.filter("vec_id % 10 = 0")
    ivf, exact = (
        f(corpus, queries, k=5).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        for f in (pl.cosine_topk_ivf, pl.cosine_topk)
    )
    assert len(exact) == 12 * 5
    pd.testing.assert_frame_equal(
        ivf[["query_id", "rank", "neighbor_id"]], exact[["query_id", "rank", "neighbor_id"]]
    )
    np.testing.assert_allclose(ivf["cos_sim"], exact["cos_sim"], rtol=0, atol=1e-6)


def test_kmeans_cells_matches_numpy_lloyd(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    n, d, k, iters = 150, 8, 4, 3
    vecs = rng.standard_normal((n, d)) + rng.integers(0, 4, n)[:, None] * 3.0
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"), "embedding": [list(map(float, v)) for v in vecs]}
    )
    got = (
        pl.kmeans_cells(spark.createDataFrame(pdf), k=k, iters=iters)
        .toPandas()
        .sort_values("vec_id")["cell"]
        .to_numpy()
    )
    # reference Lloyd with the same deterministic contract
    cents = vecs[:k].copy()
    for t in range(iters):
        d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cell = np.argmin(np.round(d2, 6), axis=1)
        if t == iters - 1:
            break
        for j in range(k):
            sel = vecs[cell == j]
            if len(sel):
                cents[j] = np.round(sel.mean(axis=0), 6)
    np.testing.assert_array_equal(got, cell)
    assert len(np.unique(got)) > 1  # actually clustered


def test_cosine_topk_query_side_guard(spark):
    """The driver-collected query side must refuse to grow beyond the
    broadcast threshold instead of silently materializing a huge matrix
    (the 100 TB hazard VERDICT r3 flagged)."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(5)
    n, d = 64, 8
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"),
         "embedding": [list(map(float, v)) for v in rng.standard_normal((n, d))]}
    )
    corpus = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        pl.cosine_topk(corpus, corpus, k=3, max_broadcast_queries=16)
    # under the limit (or with the guard disabled) the plan still runs
    small = corpus.filter("vec_id < 4")
    assert pl.cosine_topk(corpus, small, k=3).count() == 12
    assert pl.cosine_topk(corpus, small, k=3, max_broadcast_queries=None).count() == 12
    # physical shape: one Arrow-batched matmul stage over the corpus,
    # never a Q·N row explosion (no join of any kind in the plan)
    plan = (
        pl.cosine_topk(corpus, small, k=3, max_broadcast_queries=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan
    # correctness of the blocked path vs a direct numpy ranking
    out = pl.cosine_topk(corpus, small, k=3).toPandas()
    vecs = np.array(pdf["embedding"].tolist())
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(vn @ vn.T, 6)
    for q in range(4):
        s = sims[:, q].copy()
        s[q] = -np.inf
        order = sorted(range(n), key=lambda i: (-s[i], i))[:3]
        got = out[out.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert got == order, (q, got, order)


def test_embedding_dup_auto_gates_to_lsh(spark):
    """method='auto' (the default) must switch from exact all-pairs to
    SRP-LSH candidate generation once the corpus exceeds
    exact_max_rows — the exact path is O(N²) and must never be the
    silent default at scale. LSH output must be a subset of the exact
    pairs with identical scores."""
    import numpy as np
    import pytest

    rng = np.random.default_rng(11)
    n, d = 150, 16
    vecs = rng.standard_normal((n, d))
    vecs[40] = vecs[7] * 1.5 + 0.02  # planted near-dup, cos ~ 1
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype="int64"),
         "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    exact = pl.embedding_dup_pairs(df, threshold=0.6, method="exact").toPandas()
    # auto with a tiny gate must produce the LSH plan's (subset) result
    auto_lsh = pl.embedding_dup_pairs(
        df, threshold=0.6, method="auto", exact_max_rows=10, lsh_planes=6
    ).toPandas()
    lsh = pl.embedding_dup_pairs(
        df, threshold=0.6, method="lsh", lsh_planes=6
    ).toPandas()
    e = set(zip(exact["a_id"], exact["b_id"]))
    assert set(zip(lsh["a_id"], lsh["b_id"])) <= e
    assert set(zip(auto_lsh["a_id"], auto_lsh["b_id"])) == set(
        zip(lsh["a_id"], lsh["b_id"])
    )
    # the planted near-identical pair survives bucketing (θ≈0 ⇒ all
    # plane signs agree)
    assert (7, 40) in set(zip(lsh["a_id"], lsh["b_id"]))
    with pytest.raises(ValueError, match="method"):
        pl.embedding_dup_pairs(df, method="nope")


def test_split_assign_deterministic_and_proportional(spark):
    pdf = pd.DataFrame({"doc_id": range(5000), "lang": ["en", "de"] * 2500})
    df = spark.createDataFrame(pdf)
    out = pl.split_assign(df, weights={"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    # deterministic: identical assignment on rerun and under repartition
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in pl.split_assign(
            df.repartition(7), weights={"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert a == b
    # a different salt re-splits independently (some ids move)
    c = {r["doc_id"]: r["split"] for r in pl.split_assign(
        df, weights={"train": 0.8, "val": 0.1, "test": 0.1}, salt="other"
    ).collect()}
    assert a != c
    import pytest as _pt
    with _pt.raises(ValueError, match="sum to 1"):
        pl.split_assign(df, weights={"train": 0.5, "val": 0.1})


def test_stratified_sample_exact_by_id(spark):
    pdf = pd.DataFrame({"doc_id": range(4000), "lang": ["en", "de"] * 2000})
    df = spark.createDataFrame(pdf)
    out = pl.stratified_sample(
        df, fractions={"en": 0.5, "de": 0.1}, stratum_col="lang"
    ).toPandas()
    en = (out["lang"] == "en").sum()
    de = (out["lang"] == "de").sum()
    assert abs(en / 2000 - 0.5) < 0.05
    assert abs(de / 2000 - 0.1) < 0.03
    # subset property: halving the fraction yields a subset of the kept ids
    half = pl.stratified_sample(
        df, fractions={"en": 0.25, "de": 0.05}, stratum_col="lang"
    ).toPandas()
    assert set(half["doc_id"]) <= set(out["doc_id"])
    # flat sample
    flat = pl.stratified_sample(df, fractions="0.2")
    assert abs(flat.count() / 4000 - 0.2) < 0.05


def test_decode_ppm_parses_netpbm_headers():
    """pure-numpy P6 parsing: comments, multi-whitespace, value checks,
    and the failure modes (bad magic, 16-bit maxval, compressed data)."""
    import numpy as np
    import pytest

    from xarray_scipy_spark.pipeline import decode_ppm, image_decoder

    raster = bytes(range(2 * 2 * 3))
    px, w, h = decode_ppm(b"P6\n2 2\n255\n" + raster)
    assert (w, h) == (2, 2)
    np.testing.assert_array_equal(px.ravel(), np.arange(12))
    # comments between any header fields + arbitrary whitespace
    px2, w2, h2 = decode_ppm(
        b"P6 # c1\n# full comment line\n 2\t2 # dims\n 255\n" + raster
    )
    np.testing.assert_array_equal(px2, px)
    # features: channel means then dims, padded to n_features
    f = image_decoder(b"P6\n2 2\n255\n" + raster, 6)
    assert f[3:] == [2.0, 2.0, 0.0]
    np.testing.assert_allclose(f[:3], raster_means(raster), atol=1e-12)
    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P5\n2 2\n255\n" + raster)
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n2 2\n65535\n" + raster)
    with pytest.raises(ValueError):
        # JPEG magic now routes to the REAL baseline decoder (r6),
        # which rejects this truncated stream instead of gating
        image_decoder(b"\xff\xd8\xff\xe0jpeg-ish", 4)
    # WebP routes to the REAL VP8L decoder (r8): a lossless payload
    # decodes, a LOSSY VP8 chunk gates loudly
    lossy = (
        b"RIFF"
        + (4 + 8 + 2).to_bytes(4, "little")
        + b"WEBP"
        + b"VP8 "
        + (2).to_bytes(4, "little")
        + b"\x00\x00"
    )
    with pytest.raises(NotImplementedError, match="VP8"):
        image_decoder(lossy, 4)
    with pytest.raises(NotImplementedError, match="imaging library"):
        image_decoder(b"\x00unknown-magic", 4)


def test_png_encode_decode_roundtrip_all_filters():
    """Pure-stdlib PNG codec: encode (rows cycle filter types 0-4) then
    decode must reproduce pixels exactly for gray/GA/RGB/RGBA, odd
    dims, and degenerate 1-pixel-wide shapes; error paths raise."""
    import numpy as np
    import pytest

    from xarray_scipy_spark.pipeline import decode_png, encode_png, image_decoder

    rng = np.random.default_rng(7)
    for shape in [(3, 4), (7, 5, 1), (11, 9, 2), (6, 13, 3), (23, 17, 4), (1, 1, 3), (12, 1, 3)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        dec, w, h = decode_png(encode_png(px))
        ref = px[:, :, None] if px.ndim == 2 else px
        np.testing.assert_array_equal(dec, ref)
        assert (w, h) == (ref.shape[1], ref.shape[0])
    # smooth gradient: filter-friendly content, 50 rows => 10 full cycles
    yy, xx = np.mgrid[0:50, 0:40]
    px = np.stack(
        [(yy * 3 + xx) % 256, (yy + xx * 2) % 256, (yy * 2 + xx * 5) % 256], axis=-1
    ).astype(np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(px))[0], px)
    feats = image_decoder(encode_png(px), 5)
    np.testing.assert_allclose(
        feats[:3], px.reshape(-1, 3).mean(axis=0, dtype=np.float64), atol=1e-12
    )
    assert feats[3:] == [40.0, 50.0]
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"nope")
    with pytest.raises(ValueError, match="IHDR"):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"XXXX")


def raster_means(raster: bytes):
    import numpy as np

    a = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3)
    return a.mean(axis=0, dtype=np.float64)


def test_decontaminate_flags_overlap(spark):
    """docs sharing a word 3-gram with the benchmark set are flagged
    with the exact distinct-overlap count; clean docs appear zeroed."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps",   # shares "the quick brown"+1
                    "totally unrelated sample words here",
                    "quick brown fox again",       # shares "quick brown fox"
                ],
            }
        )
    )
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [99], "text": ["the quick brown fox leaps"]})
    )
    out = (
        pl.decontaminate(docs, bench)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 1 shares "the quick brown" and "quick brown fox" (distinct 3-grams)
    assert out.loc[1, "n_shared_ngrams"] == 2 and bool(out.loc[1, "contaminated"])
    assert out.loc[2, "n_shared_ngrams"] == 0 and not bool(out.loc[2, "contaminated"])
    assert out.loc[3, "n_shared_ngrams"] == 1 and bool(out.loc[3, "contaminated"])


def test_redact_masks_and_counts(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "mail a@b.io and c.d+x@e.org, host 10.0.0.1, call +44 20 7946 0958",
                    "no pii here",
                ],
            }
        )
    )
    out = pl.redact(docs).toPandas().set_index("doc_id")
    r1 = out.loc[1]
    assert r1["n_email"] == 2 and r1["n_ip"] == 1 and r1["n_phone"] == 1
    assert "<EMAIL>" in r1["redacted"] and "<IP>" in r1["redacted"]
    assert "<PHONE>" in r1["redacted"]
    assert "a@b.io" not in r1["redacted"] and "10.0.0.1" not in r1["redacted"]
    r2 = out.loc[2]
    assert r2["redacted"] == "no pii here"
    assert r2["n_email"] == r2["n_ip"] == r2["n_phone"] == 0


def test_decode_wav_parses_riff_pcm():
    """pure-numpy RIFF/WAVE parsing: 16-bit scaling, stereo interleave,
    extra chunks before data, and the failure modes."""
    import struct

    import numpy as np
    import pytest

    from xarray_scipy_spark.pipeline import audio_decoder, decode_wav

    frames = [(-32768, 32767), (0, -1), (100, -100)]
    data = struct.pack("<6h", *[s for fr in frames for s in fr])
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    x, sr = decode_wav(hdr + data)
    assert sr == 44100 and x.shape == (3, 2)
    np.testing.assert_allclose(x[0], [-1.0, 32767 / 32768])
    np.testing.assert_allclose(x[2], [100 / 32768, -100 / 32768])
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"OggS" + b"\x00" * 40)
    with pytest.raises(NotImplementedError, match="WAVE"):
        audio_decoder(b"\xff\xfb\x90\x00mp3frame", 4)
    # non-PCM format code refuses
    bad = (
        b"RIFF" + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt " + struct.pack("<IHHIIHH", 16, 3, 2, 44100, 176400, 4, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    with pytest.raises(ValueError, match="PCM"):
        decode_wav(bad)


def test_repetition_stats_known_values(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b a b a b",        # 6 tokens, 2 distinct; "a b" x3 of 5
                    "all words unique here",
                    "solo",               # one token: no bigrams
                ],
            }
        )
    )
    out = pl.repetition_stats(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "n_tokens"] == 6
    assert abs(out.loc[1, "dup_token_frac"] - (1 - 2 / 6)) < 1e-12
    assert abs(out.loc[1, "top_bigram_share"] - 3 / 5) < 1e-12
    assert out.loc[2, "dup_token_frac"] == 0.0
    assert abs(out.loc[2, "top_bigram_share"] - 1 / 3) < 1e-12
    assert out.loc[3, "n_tokens"] == 1
    assert out.loc[3, "top_bigram_share"] == 0.0


def test_mix_datasets_rates_and_determinism(spark):
    import numpy as np

    pdf = pd.DataFrame({"doc_id": np.arange(4000, dtype="int64")})
    a = spark.createDataFrame(pdf)
    b = spark.createDataFrame(pdf)
    out = pl.mix_datasets({"a": a, "b": b}, {"a": 1.0, "b": 0.25}).toPandas()
    na = (out["source"] == "a").sum()
    nb = (out["source"] == "b").sum()
    assert na == 4000  # rate 1.0 keeps everything
    assert abs(nb / 4000 - 0.25) < 0.03
    # rerun-stable: the exact same ids survive
    again = pl.mix_datasets({"a": a, "b": b}, {"a": 1.0, "b": 0.25}).toPandas()
    assert sorted(map(tuple, out.values.tolist())) == sorted(
        map(tuple, again.values.tolist())
    )
    # sources sample INDEPENDENTLY (different salts): b's survivors are
    # not just "the first 25% of a's hash order" shared across names
    c = pl.mix_datasets({"c": b}, {"c": 0.25}).toPandas()
    assert set(c["doc_id"]) != set(out.loc[out["source"] == "b", "doc_id"])
    import pytest

    with pytest.raises(ValueError, match="rate"):
        pl.mix_datasets({"a": a}, {"a": 1.5})
    with pytest.raises(KeyError, match="unknown"):
        pl.mix_datasets({"a": a}, {"zzz": 0.5})


def test_vocabulary_tf_df(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a c"),
            (1, "b b d"),
            (2, "a"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["token"]: (r["tf"], r["df"])
        for r in pl.vocabulary(docs).collect()
    }
    assert got == {"a": (3, 2), "b": (3, 2), "c": (1, 1), "d": (1, 1)}
    # min_tf filter
    got2 = {r["token"] for r in pl.vocabulary(docs, min_tf=2).collect()}
    assert got2 == {"a", "b"}


def test_gzip_text_roundtrip(spark):
    """The REAL compressed-text path: gzip (RFC 1952/1951) encode on the
    fixture side, stdlib inflate through the Arrow-batched decode_text
    plumbing; text must roundtrip byte-exactly and n_bytes must report
    the COMPRESSED payload size."""
    rows = [
        (0, "the quick brown fox"),
        (1, "päällekkäisyys — unicode résumé ✓"),
        (2, ""),
        (3, "x" * 10_000),  # compresses far below its raw size
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    import pandas as _pd

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        pl.gzip_text_encoder(t) for t in pdf["text"]
                    ],
                }
            )

    payloads = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    out = {
        r["doc_id"]: (r["text"], r["n_bytes"])
        for r in pl.decode_text(payloads).collect()
    }
    for doc_id, text in rows:
        assert out[doc_id][0] == text
        assert out[doc_id][1] == len(pl.gzip_text_encoder(text))
    assert out[3][1] < 200  # 10k run-length text compresses ~100x


def test_jpeg_dc_only_roundtrip_exact():
    """Constant 8x8 blocks + all-ones quant table: the DC coefficient
    8*(v-128) is integral and AC are analytically zero, so the full
    encode->decode pipeline (huffman, DC prediction, dequant, IDCT)
    must reproduce every pixel EXACTLY — the property the arithmetic
    oracle of multimodal_jpeg_decode leans on."""
    import numpy as np

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 256, (3, 4))
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    dec, w, h = decode_jpeg(encode_jpeg(img))
    assert (w, h) == (32, 24)
    assert (dec == img).all()
    # the same streams with the lone component's sampling factors
    # patched 1x1 -> 2x2 stay valid: a single-component scan walks the
    # component's own block grid, not 2x2-block MCUs (T.81 A.2.2)
    for prog in (False, True):
        payload = bytearray(encode_jpeg(img, progressive=prog))
        sof = payload.index(b"\xff\xc2" if prog else b"\xff\xc0")
        assert payload[sof + 11] == 0x11
        payload[sof + 11] = 0x22
        assert (decode_jpeg(bytes(payload))[0] == img).all(), prog


def test_jpeg_ac_checkerboard_exact():
    """AC fixture (FIXTURES.md §6): blocks v + k·s(x)s(y) with s the
    sign of cos((2x+1)π/4) have exactly two nonzero INTEGER DCT
    coefficients — DC = 8(v−128) and AC(4,4) = 8k, whose zigzag run
    exceeds 15 so the ZRL huffman code fires. Under the all-ones quant
    table the roundtrip is exact, value-verifying the huffman-AC +
    IDCT path the DC-only fixture cannot reach; the ± checker-cell
    means are the closed forms v±k the queued merged-decode oracle
    states in SQL."""
    import numpy as np

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    sgn = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    pat = np.outer(sgn, sgn)
    for v, k in ((40, 1), (128, 20), (100, 37), (199, 38), (30, 29), (127, 127)):
        img = (v + k * pat).astype(np.uint8)
        dec, w, h = decode_jpeg(encode_jpeg(img))
        arr = np.asarray(dec, dtype=int).reshape(8, 8)
        assert np.array_equal(arr, v + k * pat), (v, k)
        assert arr[pat == 1].mean() == v + k
        assert arr[pat == -1].mean() == v - k


def test_jpeg_general_roundtrips_and_errors():
    import numpy as np

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    # arbitrary gray content, quant ones: only IDCT/DCT float rounding,
    # error bound 1; odd (non multiple-of-8) dims crop correctly
    img = rng.integers(0, 256, (13, 21)).astype(np.uint8)
    dec, w, h = decode_jpeg(encode_jpeg(img))
    assert (w, h) == (21, 13) and dec.shape == (13, 21)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1

    # a REAL lossy quant table: decode succeeds, error bounded but nonzero
    quant = np.clip((np.arange(64) + 2) * 2, 2, 96)
    smooth = np.linspace(40, 200, 16 * 24).reshape(16, 24).astype(np.uint8)
    dec2, _, _ = decode_jpeg(encode_jpeg(smooth, quant=quant))
    assert np.abs(dec2.astype(int) - smooth.astype(int)).max() <= 32

    # color: 4:4:4 and 4:2:0 on smooth chroma (subsampling-lossless)
    color = np.zeros((16, 16, 3), np.uint8)
    color[..., 0], color[..., 1], color[..., 2] = 90, 160, 210
    for sub in (False, True):
        dec3, _, _ = decode_jpeg(encode_jpeg(color, subsample=sub))
        assert dec3.shape == (16, 16, 3)
        assert np.abs(dec3.astype(int) - color.astype(int)).max() <= 2

    # error paths: not a JPEG; truncated stream; progressive marker
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG")
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xd9")
    with _pytest.raises(ValueError):
        # SOF2 (progressive) must be refused, not mis-decoded
        payload = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
        payload[payload.index(b"\xff\xc0") + 1] = 0xC2
        decode_jpeg(bytes(payload))


def test_truncated_jpeg_and_gif_raise_value_error():
    """Every cut of a JPEG (baseline and progressive, 4:2:0), GIF, PNG,
    BMP or lossless WebP payload either raises ``ValueError`` or, for
    PNG, decodes to the full image (a cut in the trailing CRC or IEND
    chunk loses no pixel data) — never a bare ``IndexError``,
    ``struct.error`` or ``zlib.error`` from reading past the end, which
    a per-row decode-error policy catching ``ValueError`` would miss."""
    import numpy as np

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg
    from xarray_scipy_spark.pipeline.multimodal import (
        decode_bmp,
        decode_gif,
        decode_gif_frames,
        decode_png,
        encode_bmp,
        encode_gif,
        encode_png,
    )
    from xarray_scipy_spark.pipeline.webp import decode_webp, encode_webp_lossless

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    cases = [
        (encode_jpeg(img, subsample=True, progressive=prog), decode_jpeg)
        for prog in (False, True)
    ]
    gif = encode_gif(img[..., 0][:8, :8])
    cases += [(gif, decode_gif), (gif, decode_gif_frames)]
    small = img[:8, :8]
    cases += [
        (encode_png(small), decode_png),
        (encode_bmp(small), decode_bmp),
        (encode_webp_lossless(small), decode_webp),
    ]
    for payload, decode in cases:
        for n in range(len(payload)):
            try:
                px = decode(payload[:n])[0]
            except ValueError:
                continue
            if decode is decode_png:
                np.testing.assert_array_equal(px, small)


def test_jpeg_bit_reader_keeps_only_unread_bits(monkeypatch):
    """The JPEG bit reader's accumulator holds only the bits not yet
    returned: it never grows past 64 bits over a whole 128x128 4:2:0
    decode (it used to keep every bit of the scan, which made decode
    time quadratic in the scan length)."""
    import numpy as np

    from xarray_scipy_spark.pipeline import jpeg

    widest = []
    fill = jpeg._BitReader._fill

    def spy(self):
        fill(self)
        widest.append(self.acc.bit_length())

    monkeypatch.setattr(jpeg._BitReader, "_fill", spy)
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (128, 128, 3), dtype=np.uint8)
    for prog in (False, True):
        jpeg.decode_jpeg(jpeg.encode_jpeg(img, subsample=True, progressive=prog))
    assert widest and max(widest) <= 64


def test_jpeg_through_image_decoder(spark):
    """image_decoder sniffs the FFD8 signature and routes through
    decode_jpeg inside the Arrow-batched decode_features plumbing."""
    import numpy as np
    import pandas as _pd

    from xarray_scipy_spark.pipeline.jpeg import encode_jpeg

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id bigint")

    def synth(batches):
        for pdf in batches:
            payloads = [
                encode_jpeg(np.full((8, 16), 50 + 10 * int(d), np.uint8))
                for d in pdf["doc_id"]
            ]
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    payloads = docs.mapInPandas(synth, "doc_id bigint, payload binary")
    out = {
        r["doc_id"]: (r["f0"], r["f3"], r["f4"])
        for r in pl.decode_features(
            payloads, n_features=5, decoder=pl.image_decoder
        ).collect()
    }
    for d in range(4):
        assert out[d] == (50.0 + 10 * d, 16.0, 8.0)


def test_unigram_logprob_known_values(spark):
    import math

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")],
        "doc_id bigint, text string",
    )
    # corpus: a:3, b:1, c:1, total 5
    out = {r["doc_id"]: r for r in pl.unigram_logprob(docs).collect()}
    p = {"a": 3 / 5, "b": 1 / 5, "c": 1 / 5}
    exp0 = -(math.log(p["a"]) * 2 + math.log(p["b"])) / 3
    exp1 = -(math.log(p["a"]) + math.log(p["c"])) / 2
    assert out[0]["n_tokens"] == 3 and abs(out[0]["avg_nll"] - exp0) < 1e-12
    assert out[1]["n_tokens"] == 2 and abs(out[1]["avg_nll"] - exp1) < 1e-12


def test_jsonl_roundtrip_gzip_and_corrupt_records(spark, tmp_path):
    """JSONL source/sink: gzip shards roundtrip the documents shape
    exactly; a malformed line under PERMISSIVE mode lands in
    _corrupt_record instead of being silently dropped; partitioned
    writes produce the key=value layout readers prune on."""
    import gzip
    import os

    from xarray_scipy_spark.sources.jsonl import (
        DOCUMENTS_JSONL_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    rows = [
        (0, "alpha beta", "en", "web"),
        (1, "gamma", "de", "books"),
        (2, "delta epsilon zeta", "en", "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df, out, partition_by=("source",))
    # key=value partition layout on disk, shards gzip'd
    assert os.path.isdir(os.path.join(out, "source=web"))
    shard = [
        f
        for f in os.listdir(os.path.join(out, "source=web"))
        if f.endswith(".json.gz")
    ]
    assert shard, os.listdir(os.path.join(out, "source=web"))

    back = read_jsonl(spark, out, DOCUMENTS_JSONL_SCHEMA)
    got = {
        r["doc_id"]: (r["text"], r["lang"], r["source"])
        for r in back.collect()
    }
    assert got == {d: (t, l, s) for d, t, l, s in rows}

    # corrupt line: quarantined, not dropped
    bad = tmp_path / "bad"
    bad.mkdir()
    with gzip.open(bad / "shard.jsonl.gz", "wt") as f:
        f.write('{"doc_id": 7, "text": "ok", "lang": "en", "source": "web"}\n')
        f.write("{not json at all\n")
    parsed = read_jsonl(spark, str(bad), DOCUMENTS_JSONL_SCHEMA).collect()
    assert len(parsed) == 2
    corrupt = [r for r in parsed if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "not json" in corrupt[0]["_corrupt_record"]


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn restart intervals: DC predictors reset at every marker,
    padding + byte-stuffing before the marker is skipped correctly, and
    the roundtrip error bound is unchanged for any interval — including
    intervals that split an MCU row and the color/subsampled scan."""
    import numpy as np

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (48, 48)).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img))[0]
    for ri in (1, 2, 5, 7):
        dec, w, h = decode_jpeg(encode_jpeg(img, restart_interval=ri))
        assert (w, h) == (48, 48)
        # restart markers change packetization, not values
        np.testing.assert_array_equal(dec, base)
    col = rng.integers(0, 256, (32, 32, 3)).astype(np.uint8)
    dec2, _, _ = decode_jpeg(encode_jpeg(col, subsample=True, restart_interval=2))
    assert dec2.shape == (32, 32, 3)


def test_bmp_codec_roundtrip_and_dispatch():
    import struct

    import numpy as np

    from xarray_scipy_spark.pipeline import decode_bmp, encode_bmp, image_decoder

    rng = np.random.default_rng(5)
    # widths exercising every stride-padding remainder (w*3 mod 4)
    for w, h in [(4, 3), (5, 7), (1, 1), (6, 2), (3, 4)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        dec, dw, dh = decode_bmp(encode_bmp(px))
        assert (dw, dh) == (w, h)
        np.testing.assert_array_equal(dec, px)
    # top-down (negative height) order
    px = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)
    b = bytearray(encode_bmp(px))
    struct.pack_into("<i", b, 22, -3)
    stride = (5 * 3 + 3) // 4 * 4
    raster = np.frombuffer(bytes(b[54:]), dtype=np.uint8).reshape(3, stride)
    b[54:] = raster[::-1].tobytes()
    np.testing.assert_array_equal(decode_bmp(bytes(b))[0], px)
    # image_decoder dispatches on the BM magic
    feats = image_decoder(encode_bmp(px), 5)
    np.testing.assert_allclose(feats[:3], px.reshape(-1, 3).mean(axis=0), atol=1e-9)
    assert feats[3:] == [5.0, 3.0]
    # unsupported shapes refuse instead of decoding garbage
    with pytest.raises(ValueError, match="24-bit"):
        hdr = struct.pack("<2sIHHI", b"BM", 70, 0, 0, 54) + struct.pack(
            "<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 16, 0, 0, 0, 0
        )
        decode_bmp(hdr + b"\x00" * 16)
    with pytest.raises(ValueError, match="BMP"):
        decode_bmp(b"P6 1 1 255 xxx")


def test_url_stats_extraction(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "plain text, no links",
                    "see https://a.example.com/x and http://b.example.org "
                    "then https://a.example.com again",
                    "edge: https://c.example.net/path/with_%20escape?nope",
                ],
            }
        )
    )
    got = pl.url_stats(df).orderBy("doc_id").toPandas()
    assert got["n_urls"].tolist() == [0, 3, 1]
    assert got["n_domains"].tolist() == [0, 2, 1]
    assert got["first_domain"].tolist() == [
        "",
        "a.example.com",
        "c.example.net",
    ]


def test_stratified_sample_flat_and_unlisted_strata(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(200),
                "lang": (["en"] * 120 + ["de"] * 50 + ["fr"] * 30),
            }
        )
    )
    got = (
        pl.stratified_sample(
            df, fractions={"en": 0.5, "de": 0.2}, stratum_col="lang", salt="t"
        )
        .groupBy("lang")
        .count()
        .toPandas()
        .set_index("lang")["count"]
    )
    assert "fr" not in got.index  # unlisted strata drop entirely
    assert 30 <= got.get("en", 0) <= 90 and 2 <= got.get("de", 0) <= 25
    # flat sample: same ids survive a rerun (determinism by id)
    flat1 = set(
        r[0]
        for r in pl.stratified_sample(df, fractions="0.3", salt="t")
        .select("doc_id")
        .collect()
    )
    flat2 = set(
        r[0]
        for r in pl.stratified_sample(
            df.repartition(7), fractions="0.3", salt="t"
        )
        .select("doc_id")
        .collect()
    )
    assert flat1 == flat2 and 30 <= len(flat1) <= 90


def test_quantize_embeddings_roundtrip_error_and_clamp(spark):
    import numpy as np

    import xarray_scipy_spark.pipeline as pl

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    vecs[0, 0] = 5.0  # per-dim max -> quantizes to exactly +127
    vecs[:, 3] = 0.0  # identically-zero dim -> scale pinned to 1
    df = spark.createDataFrame(
        pd.DataFrame(
            {"emb_id": range(40), "vec": [v.tolist() for v in vecs]}
        )
    )
    got = (
        pl.quantize_embeddings(df, id_col="emb_id", vec_col="vec")
        .orderBy("emb_id")
        .toPandas()
    )
    q = np.array(got["qvec"].tolist(), dtype=np.int32)
    s = np.array(got["scales"].tolist())[0]  # identical on every row
    assert q.max() <= 127 and q.min() >= -128
    assert q[0, 0] == 127
    assert (q[:, 3] == 0).all() and s[3] == 1.0
    expected_scales = np.abs(vecs).max(axis=0).astype(float)
    expected_scales[3] = 1.0  # zero dim pinned
    np.testing.assert_allclose(s, expected_scales, rtol=1e-6)
    # dequantized reconstruction error bounded by half a quantization step
    deq = q / 127.0 * s[None, :]
    err = np.abs(deq - vecs.astype(float))
    step = s / 127.0
    assert (err <= step[None, :] / 2 + 1e-12).all()
    with pytest.raises(ValueError, match="bits"):
        pl.quantize_embeddings(df, id_col="emb_id", vec_col="vec", bits=1)


def test_embedding_pca_matches_numpy(spark):
    import numpy as np

    import xarray_scipy_spark.pipeline as pl

    rng = np.random.default_rng(13)
    # anisotropic cloud so the component order is unambiguous
    base = rng.standard_normal((300, 6)) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1])
    rot, _ = np.linalg.qr(rng.standard_normal((6, 6)))
    vecs = (base @ rot + np.array([1.0, -2.0, 0.5, 0.0, 3.0, -1.0])).astype(
        np.float32
    )
    df = spark.createDataFrame(
        pd.DataFrame({"emb_id": range(300), "vec": [v.tolist() for v in vecs]})
    ).repartition(5)
    vals, comps, mean = pl.fit_pca(df, 3, vec_col="vec")
    x = vecs.astype(float)
    np.testing.assert_allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    np.testing.assert_allclose(vals, evals[order], rtol=1e-9)
    for i, col in enumerate(order):
        ref = evecs[:, col]
        j = int(np.argmax(np.abs(comps[i])))
        if ref[j] * comps[i][j] < 0:
            ref = -ref
        np.testing.assert_allclose(comps[i], ref, atol=1e-8)
    got = (
        pl.embedding_pca(df, 3, id_col="emb_id", vec_col="vec")
        .orderBy("emb_id")
        .toPandas()
    )
    want = (x - x.mean(axis=0)) @ comps.T
    np.testing.assert_allclose(
        got[["pc0", "pc1", "pc2"]].to_numpy(), want, atol=1e-8
    )
    # scores are uncorrelated with variance = eigenvalues
    sc = got[["pc0", "pc1", "pc2"]].to_numpy()
    np.testing.assert_allclose(
        np.cov(sc, rowvar=False, bias=True), np.diag(vals), atol=1e-6
    )
    with pytest.raises(ValueError, match="k must be"):
        pl.fit_pca(df, 7, vec_col="vec")


def test_duplicated_ngram_spans(spark):
    import xarray_scipy_spark.pipeline as pl

    shared = "the quick brown fox jumps over the lazy dog"  # 9 tokens
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"alpha beta {shared} gamma delta",
                f"one two three {shared} four",
                "totally unrelated words that appear nowhere else at all",
                "tiny",
            ],
        }
    )
    df = spark.createDataFrame(docs)
    got = (
        pl.duplicated_ngram_spans(df, k=4, min_docs=2)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    # doc 1: 13 tokens, shared block covers positions 2..10 (9 tokens)
    assert got.loc[1, "n_tokens"] == 13 and got.loc[1, "n_grams"] == 10
    assert got.loc[1, "n_dup_grams"] == 6  # 9-token run -> 6 shared 4-grams
    assert abs(got.loc[1, "dup_token_frac"] - 9 / 13) < 1e-9
    assert got.loc[2, "n_dup_grams"] == 6
    # doc 2: "one two three" + 9 shared + "four" = 13 tokens
    assert abs(got.loc[2, "dup_token_frac"] - 9 / 13) < 1e-9
    # unrelated doc: zero duplication; short doc: zero grams
    assert got.loc[3, "n_dup_grams"] == 0 and got.loc[3, "dup_token_frac"] == 0.0
    assert got.loc[4, "n_grams"] == 0 and got.loc[4, "dup_token_frac"] == 0.0
    with pytest.raises(ValueError, match="min_docs"):
        pl.duplicated_ngram_spans(df, k=4, min_docs=1)


def test_xml_roundtrip_quarantine_and_attributes(spark, tmp_path):
    """XML source/sink (the Spark-4 built-in source wrapped with the
    jsonl/csv discipline): gzip shards roundtrip the documents shape
    under an explicit schema with a key=value partition layout; a
    malformed element under PERMISSIVE mode quarantines in
    _corrupt_record; attribute fields surface under the _ prefix."""
    import gzip
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from xarray_scipy_spark.sources.xmlfile import read_xml, write_xml

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    rows = [
        (0, "alpha beta", "en", "web"),
        (1, "gamma", "de", "books"),
        (2, "delta epsilon zeta", "en", "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    out = str(tmp_path / "docs_xml")
    write_xml(df, out, row_tag="doc", partition_by=("source",))
    assert os.path.isdir(os.path.join(out, "source=web"))
    shard = [
        f
        for f in os.listdir(os.path.join(out, "source=web"))
        if f.endswith(".gz")
    ]
    assert shard, os.listdir(os.path.join(out, "source=web"))

    back = read_xml(spark, out, schema, row_tag="doc")
    got = {
        r["doc_id"]: (r["text"], r["lang"], r["source"])
        for r in back.collect()
    }
    assert got == {d: (t, l, s) for d, t, l, s in rows}

    # malformed element: quarantined, not dropped
    bad = tmp_path / "bad"
    bad.mkdir()
    with gzip.open(bad / "shard.xml.gz", "wt") as f:
        f.write("<rows>\n")
        f.write(
            "<doc><doc_id>7</doc_id><text>ok</text>"
            "<lang>en</lang><source>web</source></doc>\n"
        )
        f.write("<doc><doc_id>not a number</doc_id></doc>\n")
        f.write("</rows>\n")
    parsed = read_xml(spark, str(bad), schema, row_tag="doc").collect()
    assert len(parsed) == 2
    corrupt = [r for r in parsed if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1
    ok = [r for r in parsed if r["_corrupt_record"] is None]
    assert ok[0]["doc_id"] == 7 and ok[0]["text"] == "ok"

    # attributes: <chunk id="..." n="...">text</chunk> -> _id, _n, _VALUE
    attr_dir = tmp_path / "attrs"
    attr_dir.mkdir()
    (attr_dir / "a.xml").write_text(
        '<chunks><chunk id="3" n="2">hello</chunk>'
        '<chunk id="4" n="5">world</chunk></chunks>'
    )
    attr_schema = StructType(
        [
            StructField("_id", LongType()),
            StructField("_n", LongType()),
            StructField("_VALUE", StringType()),
        ]
    )
    chunks = read_xml(
        spark, str(attr_dir), attr_schema, row_tag="chunk"
    ).collect()
    assert {(r["_id"], r["_n"], r["_VALUE"]) for r in chunks} == {
        (3, 2, "hello"),
        (4, 5, "world"),
    }


def test_xml_stream_equals_batch(spark, tmp_path):
    """stream_xml must reproduce read_xml row-for-row over the same
    shards (one micro-batch per file under maxFilesPerTrigger=1 +
    AvailableNow) — the stream-equals-batch pin applied to the XML
    landing source."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from xarray_scipy_spark.sources.xmlfile import (
        read_xml,
        stream_xml,
        write_xml,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    rows = [(i, f"text {i}") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    src = str(tmp_path / "feed")
    write_xml(df.repartition(3), src, row_tag="doc")

    stream = stream_xml(
        spark, src, schema, row_tag="doc", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("xml_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 3  # one batch per shard
    got = {
        r["doc_id"]: r["text"]
        for r in spark.sql("select * from xml_stream_out").collect()
    }
    batch = {
        r["doc_id"]: r["text"]
        for r in read_xml(spark, src, schema, row_tag="doc").collect()
    }
    assert got == batch == dict(rows)


def test_csv_roundtrip_quarantine_and_partitioning(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from xarray_scipy_spark.sources import read_csv, write_csv

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("n", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "lang": ["en", "de", "en", "fr"],
                # quoting stress: delimiter and RFC-4180 doubled quote
                "n": [10, 20, 30, 40],
            }
        )
    )
    out = str(tmp_path / "csv_out")
    write_csv(df, out, partition_by=("lang",))
    import os

    assert any("lang=en" in d for d in os.listdir(out))
    back = read_csv(spark, out, schema).drop("_corrupt_record")
    got = back.orderBy("doc_id").toPandas()
    # partition column comes back from the directory layout
    assert got["doc_id"].tolist() == [1, 2, 3, 4]
    assert got["lang"].tolist() == ["en", "de", "en", "fr"]
    assert got["n"].tolist() == [10, 20, 30, 40]
    # quarantine: malformed numeric lands in _corrupt_record, not a crash
    bad = tmp_path / "bad.csv"
    bad.write_text("doc_id,lang,n\n7,en,42\nnot_a_number,de,1\n8,fr,oops\n")
    parsed = (
        read_csv(spark, str(bad), schema)
        .orderBy("doc_id")
        .collect()
    )
    assert len(parsed) == 3
    good = [r for r in parsed if r["_corrupt_record"] is None]
    quarantined = [r for r in parsed if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["doc_id"] == 7 and good[0]["n"] == 42
    assert len(quarantined) == 2
    # RFC-4180 quoting roundtrip: embedded delimiter + doubled quote
    qdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": [9], "lang": ['say "hi", ok'], "n": [1]})
    )
    qout = str(tmp_path / "quoted")
    write_csv(qdf, qout)
    qback = read_csv(spark, qout, schema).collect()[0]
    assert qback["lang"] == 'say "hi", ok'


def test_chunk_documents_windows_and_overlap(spark):
    import xarray_scipy_spark.pipeline as pl

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [words, "a b c", ""],
            }
        )
    )
    # no overlap: 10 tokens in windows of 4 -> 4,4,2
    got = (
        pl.chunk_documents(df, chunk_tokens=4)
        .orderBy("doc_id", "chunk_id")
        .toPandas()
    )
    d1 = got[got["doc_id"] == 1]
    assert d1["n_tokens"].tolist() == [4, 4, 2]
    assert (d1["n_chunks"] == 3).all()
    assert d1["chunk_text"].tolist() == [
        "w0 w1 w2 w3",
        "w4 w5 w6 w7",
        "w8 w9",
    ]
    # short doc: one chunk, its own length; empty doc: no rows
    d2 = got[got["doc_id"] == 2]
    assert d2["chunk_text"].tolist() == ["a b c"] and d2["n_tokens"].tolist() == [3]
    assert (got["doc_id"] == 3).sum() == 0
    # overlap 2, window 4 -> ceil((10-2)/2) = 4 starts (0,2,4,6): the
    # last window reaches the end, so no redundant tail start is added
    ov = (
        pl.chunk_documents(df, chunk_tokens=4, overlap=2)
        .orderBy("doc_id", "chunk_id")
        .toPandas()
    )
    d1o = ov[ov["doc_id"] == 1]
    assert len(d1o) == 4
    assert d1o["chunk_text"].iloc[0] == "w0 w1 w2 w3"
    assert d1o["chunk_text"].iloc[1] == "w2 w3 w4 w5"
    assert d1o["chunk_text"].iloc[-1] == "w6 w7 w8 w9"
    # reconstruction property (no overlap): concatenation restores the doc
    rec = " ".join(
        got[got["doc_id"] == 1].sort_values("chunk_id")["chunk_text"]
    )
    assert rec == words
    with pytest.raises(ValueError, match="overlap"):
        pl.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_pack_sequences_ffd_invariants(spark):
    import numpy as np

    import xarray_scipy_spark.pipeline as pl

    rng = np.random.default_rng(61)
    n = 300
    sizes = rng.integers(50, 900, n)
    sizes[0] = 3000  # oversize -> singleton overflow pack
    df = spark.createDataFrame(
        pd.DataFrame({"chunk_id": range(n), "n_tokens": sizes})
    )
    got = pl.pack_sequences(
        df, budget=2048, partitions=4
    ).toPandas()
    assert len(got) == n  # every chunk placed exactly once
    # no pack exceeds the budget except flagged oversize singletons
    by_pack = got.merge(
        pd.DataFrame({"chunk_id": range(n), "n_tokens": sizes}), on="chunk_id"
    ).groupby("pack_id")
    for pid, grp in by_pack:
        total = grp["n_tokens"].sum()
        if grp["overflow"].any():
            assert len(grp) == 1
        else:
            assert total <= 2048
            assert (grp["pack_fill"] == total).all()
        # pack positions are 0..k-1
        assert sorted(grp["pack_pos"].tolist()) == list(range(len(grp)))
    # packing efficiency: FFD should fill packs well above naive layout
    normal = got[~got["overflow"]]
    fills = normal.drop_duplicates("pack_id")["pack_fill"]
    assert fills.mean() > 0.7 * 2048
    # determinism: identical assignment under a different partitioning
    again = pl.pack_sequences(
        df.repartition(7), budget=2048, partitions=4
    ).toPandas()
    a = got.sort_values("chunk_id").reset_index(drop=True)
    b = again.sort_values("chunk_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    with pytest.raises(ValueError, match="budget"):
        pl.pack_sequences(df, budget=0)


def test_full_training_pipeline_end_to_end(spark):
    """Capstone: the whole curation chain composed on real testdata —
    quality/url stats -> exact + passage dedup -> decontaminate ->
    chunk -> pack -> split. Asserts mass conservation and contract
    invariants at every stage boundary."""
    from pyspark.sql import functions as F

    import xarray_scipy_spark.pipeline as pl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_docs = docs.count()

    # 1. signals
    quality = pl.quality_score(docs)
    urls = pl.url_stats(docs)
    assert quality.count() == n_docs and urls.count() == n_docs

    # 2. exact dedup: keep one representative per content hash
    groups = pl.exact_duplicates(docs)
    keep_ids = groups.select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(keep_ids, "doc_id")
    n_kept = kept.count()
    assert n_kept == groups.count() <= n_docs

    # 3. passage-level duplication signal on the kept set
    spans = pl.duplicated_ngram_spans(kept, k=8)
    assert spans.count() == n_kept

    # 4. decontaminate against the benchmark slice
    bench = kept.filter(F.col("doc_id") % 50 == 0)
    corpus = kept.filter(F.col("doc_id") % 50 != 0)
    decon = pl.decontaminate(corpus, bench)
    clean = corpus.join(
        decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )
    n_clean = clean.count()
    assert 0 < n_clean <= corpus.count()

    # 5. chunk -> pack: every chunk lands in exactly one pack, fills
    # respect the budget
    chunks = pl.chunk_documents(clean, chunk_tokens=32).withColumn(
        "cid",
        F.concat_ws("_", F.col("doc_id").cast("string"), F.col("chunk_id").cast("string")),
    )
    n_chunks = chunks.count()
    assert n_chunks > n_clean  # docs are longer than one window
    packs = pl.pack_sequences(
        chunks, id_col="cid", tokens_col="n_tokens", budget=128, partitions=4
    )
    assert packs.count() == n_chunks
    bad = packs.filter((~F.col("overflow")) & (F.col("pack_fill") > 128)).count()
    assert bad == 0

    # 6. deterministic split of the packs' chunks
    split = pl.split_assign(
        packs.select(F.col("cid").alias("doc_id")), weights={"train": 0.9, "val": 0.1}
    )
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n_chunks
    assert counts.get("train", 0) > counts.get("val", 0)


def test_bigram_logprob_order_sensitivity(spark):
    """The bigram NLL must (a) match a hand-rolled reference exactly
    and (b) score scrambled word order worse than natural order —
    the property unigram statistics cannot see."""
    import math
    from collections import Counter

    import xarray_scipy_spark.pipeline as pl

    base = "the cat sat on the mat"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [base, base, base, "mat the on sat cat the"],
        }
    )
    df = spark.createDataFrame(docs)
    got = (
        pl.bigram_logprob(df, alpha=0.1)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    # reference
    toks = [t.split() for t in docs["text"]]
    uni = Counter(w for d in toks for w in d)
    n_total = sum(uni.values())
    v = len(uni)
    bg = Counter((d[i], d[i + 1]) for d in toks for i in range(len(d) - 1))
    ctx = Counter(d[i] for d in toks for i in range(len(d) - 1))
    a = 0.1
    for did, d in zip(docs["doc_id"], toks):
        nlls = [-math.log(uni[d[0]] / n_total)]
        for i in range(len(d) - 1):
            p = (bg[(d[i], d[i + 1])] + a) / (ctx[d[i]] + a * v)
            nlls.append(-math.log(p))
        assert abs(got.loc[did, "avg_nll"] - sum(nlls) / len(nlls)) < 1e-9
        assert got.loc[did, "n_tokens"] == len(d)
    # order sensitivity: the scrambled doc scores strictly worse than
    # the natural one, even though its unigram profile is identical
    assert got.loc[4, "avg_nll"] > got.loc[1, "avg_nll"] + 0.3
    with pytest.raises(ValueError, match="alpha"):
        pl.bigram_logprob(df, alpha=0.0)


def test_logprob_edge_docs(spark):
    """Document-boundary edges through the r14 array-side pair
    formation: empty/whitespace docs vanish (no rows), a single-token
    doc is scored under the unigram model alone (the NULL-w1 pair),
    and a two-token doc averages its unigram head with one smoothed
    bigram — values pinned by hand (corpus = {hello, a, b}, N=3, V=3,
    alpha=0.1)."""
    import math

    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "text": ["hello", "", "a b", "   "]}
        )
    )
    for fn in (pl.unigram_logprob, pl.bigram_logprob):
        got = {r["doc_id"]: r for r in fn(df).collect()}
        assert set(got) == {1, 3}, f"{fn.__name__}: empty docs must vanish"
        assert got[1]["n_tokens"] == 1
        assert abs(got[1]["avg_nll"] - math.log(3)) < 1e-12
    bg = {r["doc_id"]: r for r in pl.bigram_logprob(df).collect()}
    expected = (math.log(3) + -math.log((1 + 0.1) / (1 + 0.1 * 3))) / 2
    assert abs(bg[3]["avg_nll"] - expected) < 1e-12


def test_model_free_similarity_capstone(spark):
    """Text → feature-hashed vectors → cosine top-k → embedding dedup,
    end to end with zero external models: near-duplicate paraphrase
    pairs must surface as mutual top-1 neighbors AND as embedding-dup
    candidates, while unrelated docs stay apart."""
    pairs = [
        ("the cat sat on the warm mat by the door", "the cat sat on the warm mat near the door"),
        ("spark shuffles data between executor stages", "spark shuffles data across executor stages"),
        ("completely unrelated text about mountain weather patterns", None),
        ("a recipe for sourdough bread with rye flour", None),
    ]
    rows, did = [], 0
    expected_pairs = []
    for a, b in pairs:
        rows.append((did, a))
        if b is not None:
            rows.append((did + 1, b))
            expected_pairs.append((did, did + 1))
            did += 2
        else:
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = pl.hashed_tfidf_vectors(docs, dim=256, out="emb")
    # ANN: each paraphrase is its twin's top-1 neighbor
    topk = pl.cosine_topk(vecs, vecs, id_col="doc_id", vec_col="emb", k=1)
    top1 = {r["query_id"]: r["neighbor_id"] for r in topk.collect()}
    for a, b in expected_pairs:
        assert top1[a] == b and top1[b] == a
    # embedding dedup: the same pairs at a 0.7 cosine threshold, and
    # ONLY those pairs
    dup = pl.embedding_dup_pairs(
        vecs, id_col="doc_id", vec_col="emb", threshold=0.7, method="exact"
    )
    got = {tuple(sorted((r["a_id"], r["b_id"]))) for r in dup.collect()}
    assert got == set(expected_pairs)


def test_orc_roundtrip_partition_pruning_and_schema_gate(spark, tmp_path):
    """ORC source/sink: value-exact roundtrip, key=value partition
    layout prunes at the scan, and the explicit-schema read fails
    loudly on a missing column instead of silently accepting the file
    schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from xarray_scipy_spark.sources import read_orc, write_orc

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("long").alias("shard"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
        (F.col("id") * 0.5).alias("score"),
    )
    path = str(tmp_path / "orc_corpus")
    write_orc(df, path, partition_by=("shard",))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("score", DoubleType()),
            StructField("shard", LongType()),
        ]
    )
    back = read_orc(spark, path, schema)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.select("doc_id", "text", "score", "shard").collect())
    )
    # partition pruning reaches the scan
    plan = (
        back.filter(F.col("shard") == 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan and "shard" in plan.split(
        "PartitionFilters"
    )[1][:120]
    # schema gate: a column the files don't have fails at plan time
    bad = StructType([StructField("nope", StringType())])
    with pytest.raises(Exception, match="nope|UNRESOLVED"):
        read_orc(spark, path, bad).collect()


def test_minhash_pairs_cross_matches_self_join_restriction(spark):
    """Cross-corpus LSH dedup: pairs(left x right) must equal the
    cross-side subset of minhash_pairs on the union (same bands, same
    verify), with NO self-side pairs and overlapping id spaces kept
    apart."""
    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "a completely different document about engine internals",
        "rain in spain falls mainly on the plain every year",
    ]
    left_rows = [(i, t) for i, t in enumerate(base)]
    right_rows = [
        (0, base[0] + " indeed"),  # near-dup of left 0, SAME id value
        (7, "unrelated text about mountain weather and snow packs"),
        (8, base[2]),  # exact text of left 2
    ]
    left = spark.createDataFrame(left_rows, "doc_id long, text string")
    right = spark.createDataFrame(right_rows, "doc_id long, text string")
    got = {
        (r["left_id"], r["right_id"])
        for r in pl.minhash_pairs_cross(
            left, right, num_hashes=16, bands=8, k=2, threshold=0.4
        ).collect()
    }
    # expected: the union-frame self-join restricted to cross pairs
    union = left.unionAll(
        right.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    )
    ref = {
        (a, b - 100)
        for a, b in (
            (r["a_id"], r["b_id"])
            for r in pl.minhash_pairs(
                union, num_hashes=16, bands=8, k=2, threshold=0.4
            ).collect()
        )
        if a < 100 <= b
    }
    assert got == ref
    assert (2, 8) in got  # the exact-duplicate pair survives banding
    assert all(l < 100 and r < 100 for l, r in got)  # sane id spaces


def _near_copy_docs(spark):
    """34 docs: 12 random 30-word bases, a one-word edit of each, a
    three-word edit of the first 6 and an exact copy of the first 4, so
    many pairs share two or more LSH bands or SimHash chunks."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    bases = [[rng.choice(vocab) for _ in range(30)] for _ in range(12)]

    def edit(words, n):
        out = list(words)
        for pos in rng.sample(range(len(out)), n):
            out[pos] = f"x{rng.randrange(1000)}"
        return out

    texts = [*bases, *(edit(b, 1) for b in bases),
             *(edit(b, 3) for b in bases[:6]), *bases[:4]]
    return spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_simhash_pairs_emit_each_pair_once_with_full_recall(spark):
    """simhash_pairs(max_distance=3) equals an all-pairs Python scan of
    the fingerprints: every pair within distance 3 comes out (the
    pigeonhole over 4 chunks makes recall exact), exactly once, even
    when it shares several chunks."""
    from itertools import combinations

    docs = _near_copy_docs(spark)
    fps = {
        r["doc_id"]: r["simhash"] for r in pl.simhash_fingerprints(docs).collect()
    }
    chunks = {i: [(h >> (12 * c)) & 0xFFF for c in range(4)] for i, h in fps.items()}
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    shared = [
        sum(x == y for x, y in zip(chunks[a], chunks[b])) for a, b in want
    ]
    assert max(shared) >= 2
    got = [
        ((r["a_id"], r["b_id"]), r["hamming"])
        for r in pl.simhash_pairs(docs, max_distance=3).collect()
    ]
    assert len(got) == len(dict(got))
    assert dict(got) == want


def test_minhash_pairs_emit_each_pair_once_with_full_recall(spark):
    """minhash_pairs equals a Python scan: candidates are the pairs
    that share a band of the signatures (compared per band, the same
    test as equal band hashes), verified by shingle-set Jaccard; each
    comes out exactly once, even when it shares several bands."""
    from itertools import combinations

    from xarray_scipy_spark.pipeline.dedup import _with_shingles

    docs = _near_copy_docs(spark)
    sig = {
        r["doc_id"]: [r[f"mh_{i}"] for i in range(16)]
        for r in pl.minhash_signatures(docs).collect()
    }
    sh = {
        r["doc_id"]: set(r["shingles"])
        for r in _with_shingles(docs, "doc_id", "text", 3).collect()
    }
    want, shared = {}, []
    for a, b in combinations(sorted(sig), 2):
        n = sum(sig[a][4 * j:4 * j + 4] == sig[b][4 * j:4 * j + 4] for j in range(4))
        jac = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if n and jac >= 0.5:
            want[(a, b)] = jac
            shared.append(n)
    assert max(shared) >= 2 and min(shared) == 1
    got = [
        ((r["a_id"], r["b_id"]), r["jaccard"])
        for r in pl.minhash_pairs(docs).collect()
    ]
    assert len(got) == len(dict(got))
    assert dict(got).keys() == want.keys()
    for pair, jac in got:
        assert abs(jac - want[pair]) < 1e-12


def test_cap_per_group_deterministic_and_stable_under_growth(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i % 5}") for i in range(200)], "doc_id long, domain string"
    )
    a = {r["doc_id"] for r in pl.cap_per_group(docs, by="domain", n=10).collect()}
    b = {
        r["doc_id"]
        for r in pl.cap_per_group(docs.repartition(16), by="domain", n=10).collect()
    }
    assert a == b and len(a) == 50  # 5 domains x 10
    # growth stability: adding rows never brings back a previously
    # displaced id — the kept set of the grown corpus restricted to
    # old ids is a SUBSET of the old kept set
    grown = docs.unionAll(
        spark.createDataFrame(
            [(1000 + i, f"d{i % 5}") for i in range(100)],
            "doc_id long, domain string",
        )
    )
    g = {r["doc_id"] for r in pl.cap_per_group(grown, by="domain", n=10).collect()}
    assert {i for i in g if i < 1000} <= a
    # flag mode keeps every row and marks survivors
    flagged = pl.cap_per_group(docs, by="domain", n=10, keep_col="kept")
    assert flagged.count() == 200
    assert flagged.filter("kept").count() == 50
    with pytest.raises(ValueError, match="n must"):
        pl.cap_per_group(docs, by="domain", n=0)


def test_robust_zscore_matches_numpy_and_flags_outliers(spark):
    import numpy as np

    rng = np.random.default_rng(8)
    base = rng.standard_normal(199)
    vals = np.append(base, 50.0)  # one gross outlier
    df = spark.createDataFrame(
        [(int(i % 2), float(v)) for i, v in enumerate(vals)],
        "g int, value double",
    )
    res = pl.robust_zscore(df, "value", by="g", flag_col="is_out").collect()
    got = {}
    for r in res:
        got.setdefault(r["g"], []).append((r["value"], r["rz"], r["is_out"]))
    for g in (0, 1):
        sub = np.array([v for i, v in enumerate(vals) if i % 2 == g])
        med = np.median(sub)
        mad = np.median(np.abs(sub - med))
        for v, rz, flag in got[g]:
            expect = 0.6745 * (v - med) / mad
            assert rz == pytest.approx(expect, rel=1e-12)
            assert flag == (abs(expect) > 3.5)
    # the gross outlier is flagged, almost everything else is not
    flags = [f for rows in got.values() for _, _, f in rows]
    assert sum(flags) <= 3 and any(
        f for v, _, f in got[199 % 2] if v == 50.0
    )


def test_robust_zscore_zero_mad_and_global(spark):
    df = spark.createDataFrame(
        [(float(v),) for v in [5.0] * 10 + [9.0]], "value double"
    )
    res = pl.robust_zscore(df, "value").collect()  # no grouping
    assert all(r["rz"] == 0.0 for r in res)  # MAD 0 -> defined as 0


def test_write_clustered_tightens_file_ranges(spark, tmp_path):
    """Range-clustered writes: each output file covers a DISJOINT key
    range (tight min/max stats -> file/row-group skipping), and the
    data round-trips exactly."""
    import pyarrow.parquet as pq

    from xarray_scipy_spark.sources import write_clustered

    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") * 7919 % 10_000).alias("key")
    )
    path = str(tmp_path / "clustered")
    write_clustered(df, path, cluster_by=["key"], num_files=8)
    import glob

    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 4
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["key"])["key"].to_pylist()
        if t:
            ranges.append((min(t), max(t)))
    ranges.sort()
    # disjoint: every file's max < next file's min (range partitioning)
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b
    # round-trip
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.agg(F.sum("key")).collect()[0][0] == df.agg(
        F.sum("key")
    ).collect()[0][0]
    with pytest.raises(ValueError, match="cluster_by"):
        write_clustered(df, path, cluster_by=[])


def test_avi_mjpeg_roundtrip_and_gates():
    """RIFF/AVI Motion-JPEG demux: encode N exact DC frames, demux,
    decode — every frame pixel-exact; non-AVI payloads still raise the
    loud NotImplementedError gate (never a silently wrong answer)."""
    import numpy as np
    import pytest as _pytest

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg
    from xarray_scipy_spark.pipeline.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        video_frame_decoder,
    )

    frames = [np.full((16, 24), (40 + 17 * i) % 256, dtype=np.uint8) for i in range(7)]
    avi = encode_avi_mjpeg(frames, fps=25)
    jpegs = video_frame_decoder(avi)
    assert len(jpegs) == 7
    for i, j in enumerate(jpegs):
        px, w, h = decode_jpeg(j)
        assert (w, h) == (24, 16)
        assert (np.asarray(px) == (40 + 17 * i) % 256).all()
    assert decode_avi_mjpeg(avi) == jpegs
    with _pytest.raises(NotImplementedError):
        video_frame_decoder(b"\x00\x00\x00\x18ftypmp42 not an avi")
    with _pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")


def test_frame_sample_mjpeg_codec(spark):
    """frame_sample(codec='mjpeg') demuxes + decodes real containers
    and emits the sampled frames' decoded means."""
    import numpy as np
    import pandas as pd

    from xarray_scipy_spark.pipeline import frame_sample
    from xarray_scipy_spark.pipeline.multimodal import encode_avi_mjpeg

    rows = []
    for d in range(6):
        frames = [
            np.full((8, 8), (d * 31 + f * 17) % 256, dtype=np.uint8)
            for f in range(2 + d % 4)
        ]
        rows.append((d, bytearray(encode_avi_mjpeg(frames))))
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = frame_sample(df, every=2, codec="mjpeg").toPandas()
    exp = [
        (d, f, float((d * 31 + f * 17) % 256))
        for d in range(6)
        for f in range(0, 2 + d % 4, 2)
    ]
    got = sorted(map(tuple, out[["doc_id", "frame_idx", "f0"]].to_numpy()))
    assert got == sorted(exp)
    with pytest.raises(ValueError, match="codec"):
        frame_sample(df, codec="gif")


def test_sample_negatives_contract(spark):
    """Exactly k negatives per anchor, never the anchor itself,
    deterministic across reruns, and the payload join carries the
    NEGATIVE row's column."""
    import pandas as pd

    from xarray_scipy_spark.pipeline import sample_negatives

    pdf = pd.DataFrame({"doc_id": range(20), "lang": [f"l{d % 3}" for d in range(20)]})
    df = spark.createDataFrame(pdf)
    out = sample_negatives(df, k=3, payload=["lang"]).toPandas()
    assert len(out) == 20 * 3
    assert (out["neg_id"] != out["doc_id"]).all()
    assert out.groupby("doc_id")["neg_slot"].nunique().eq(3).all()
    lang_of = dict(zip(pdf["doc_id"], pdf["lang"]))
    assert all(lang_of[n] == l for n, l in zip(out["neg_id"], out["lang"]))
    again = sample_negatives(df, k=3, payload=["lang"]).toPandas()
    key = ["doc_id", "neg_slot"]
    pd.testing.assert_frame_equal(
        out.sort_values(key).reset_index(drop=True),
        again.sort_values(key).reset_index(drop=True),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sample_negatives(df, k=0)


def test_gif_roundtrip_and_real_lzw_compression():
    """GIF fixtures roundtrip exactly, and the decoder handles a REAL
    compressing LZW stream (dictionary growth across code widths and
    the K-omega-K self-reference case), not just the writer's
    literal+clear style."""
    import struct

    import numpy as np

    from xarray_scipy_spark.pipeline.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (12, 31)).astype(np.uint8)
    rgb, w, h = decode_gif(encode_gif(px))
    assert (rgb[:, :, 0] == px).all()

    # hand-rolled COMPRESSING LZW encoder (the standard dict algorithm)
    def lzw_compress(indices, min_code=8):
        clear, end = 1 << min_code, (1 << min_code) + 1
        out_bits = []

        def emit(code, width):
            out_bits.append((code, width))

        table = {bytes((i,)): i for i in range(clear)}
        next_code = end + 1
        width = min_code + 1
        emit(clear, width)
        wseq = b""
        for v in indices:
            nxt = wseq + bytes((int(v),))
            if nxt in table:
                wseq = nxt
            else:
                emit(table[wseq], width)
                table[nxt] = next_code
                next_code += 1
                if next_code - 1 == (1 << width) and width < 12:
                    width += 1
                wseq = bytes((int(v),))
        if wseq:
            emit(table[wseq], width)
        emit(end, width)
        bits = bitpos = 0
        data = bytearray()
        for code, wd in out_bits:
            bits |= code << bitpos
            bitpos += wd
            while bitpos >= 8:
                data.append(bits & 0xFF)
                bits >>= 8
                bitpos -= 8
        if bitpos:
            data.append(bits & 0xFF)
        return bytes(data)

    # repetitive image -> real dictionary reuse + KwK patterns
    seq = (np.arange(4096) % 7).astype(np.uint8)
    img = seq.reshape(64, 64)
    comp = lzw_compress(img.ravel())
    gif = bytearray()
    gif += b"GIF89a" + struct.pack("<HHBBB", 64, 64, 0xF7, 0, 0)
    for i in range(256):
        gif += bytes((i, i, i))
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, 64, 64, 0) + bytes([8])
    for lo in range(0, len(comp), 255):
        block = comp[lo : lo + 255]
        gif.append(len(block))
        gif += block
    gif += b"\x00\x3b"
    assert len(comp) < 4096  # genuinely compressed
    rgb2, w2, h2 = decode_gif(bytes(gif))
    assert (w2, h2) == (64, 64)
    assert (rgb2[:, :, 0] == img).all()


def test_jpeg_progressive_equals_baseline_everywhere():
    """SOF2 progressive decode (spectral selection + successive
    approximation, EOB runs, correction-bit buffering) must reproduce
    the baseline decode of the SAME coefficients for every fixture
    family — random gray (partial edge blocks), sparse (cross-block
    EOB runs + ZRL-with-corrections), color 4:4:4 and 4:2:0, a real
    quant table, and the exact DC-only / AC-checkerboard fixtures."""
    import numpy as np

    from xarray_scipy_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(9)
    for _ in range(12):
        shape = (
            max(1, int(rng.integers(1, 5)) * 8 - int(rng.integers(0, 7))),
            max(1, int(rng.integers(1, 5)) * 8 - int(rng.integers(0, 7))),
        )
        img = rng.integers(0, 256, shape).astype(np.uint8)
        p = decode_jpeg(encode_jpeg(img, progressive=True))[0]
        b = decode_jpeg(encode_jpeg(img))[0]
        assert np.array_equal(p, b), shape
    sparse = np.zeros((32, 40), dtype=np.uint8)
    sparse[5, 7] = 200
    sparse[20, 33] = 90
    assert np.array_equal(
        decode_jpeg(encode_jpeg(sparse, progressive=True))[0],
        decode_jpeg(encode_jpeg(sparse))[0],
    )
    img3 = rng.integers(0, 256, (24, 17, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img3, progressive=True))[0],
        decode_jpeg(encode_jpeg(img3))[0],
    )
    img420 = rng.integers(0, 256, (24, 40, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img420, progressive=True, subsample=True))[0],
        decode_jpeg(encode_jpeg(img420, subsample=True))[0],
    )
    q = np.clip(np.arange(1, 65) // 2 + 1, 1, 32).astype(np.int64)
    imgq = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(imgq, progressive=True, quant=q))[0],
        decode_jpeg(encode_jpeg(imgq, quant=q))[0],
    )
    # exact fixtures stay exact through the progressive pipeline
    vals = rng.integers(0, 256, (2, 3))
    imgc = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(imgc, progressive=True))[0], imgc
    )
    sgn = np.array([1, -1, -1, 1, 1, -1, -1, 1])
    imgk = (100 + 37 * np.outer(sgn, sgn)).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(imgk, progressive=True))[0], imgk
    )


def test_png_adam7_and_gif_interlace():
    """Adam7-interlaced PNGs (each pass unfiltered as its own
    sub-image, scattered onto the pass lattice) and four-pass
    interlaced GIF frames both decode pixel-exactly."""
    import struct
    import zlib

    import numpy as np

    from xarray_scipy_spark.pipeline.multimodal import (
        _ADAM7,
        decode_gif,
        decode_png,
        encode_gif,
    )

    rng = np.random.default_rng(2)
    for shape in ((16, 16, 3), (9, 13, 1), (5, 3, 4), (1, 1, 1), (7, 8, 2)):
        h, w, ch = shape
        px = rng.integers(0, 256, (h, w, ch)).astype(np.uint8)
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = -(-(w - x0) // dx) if w > x0 else 0
            ph = -(-(h - y0) // dy) if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub = px[y0::dy, x0::dx]
            for r in range(ph):
                raw.append(0)
                raw += sub[r].tobytes()
        color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1)

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        dec, _, _ = decode_png(png)
        assert np.array_equal(dec.reshape(h, w, ch), px), shape

    px = rng.integers(0, 256, (13, 9)).astype(np.uint8)
    order = np.concatenate(
        [np.arange(s, 13, t) for s, t in ((0, 8), (4, 8), (2, 4), (1, 2))]
    )
    gif = bytearray(encode_gif(px[order]))
    i = gif.index(0x2C, 13 + 768)
    gif[i + 9] |= 0x40  # set the interlace flag on the image descriptor
    rgb, _, _ = decode_gif(bytes(gif))
    assert np.array_equal(rgb[:, :, 0], px)


def test_animated_gif_composite_transparency_disposal():
    """Multi-frame GIF with sub-rectangle frames, a transparent index,
    and disposal methods keep/restore-background/restore-previous —
    every composited canvas must match a reference compositor."""
    import struct

    import numpy as np

    from xarray_scipy_spark.pipeline.multimodal import decode_gif, decode_gif_frames

    # hand-build: 8x6 screen, 4-entry palette, 3 frames
    pal = np.array([[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]], np.uint8)

    def lzw_literals(indices, min_code=2):
        clear, end = 1 << min_code, (1 << min_code) + 1
        width = min_code + 1
        bits = bitpos = 0
        data = bytearray()

        def emit(code):
            nonlocal bits, bitpos
            bits |= code << bitpos
            bitpos += width
            while bitpos >= 8:
                data.append(bits & 0xFF)
                bits >>= 8
                bitpos -= 8

        emit(clear)
        nxt = end + 1
        for v in indices:
            emit(int(v))
            nxt += 1
            if nxt >= (1 << width) - 1:
                emit(clear)
                nxt = end + 1
        emit(end)
        if bitpos:
            data.append(bits & 0xFF)
        return bytes(data)

    def img_block(left, top, w, h, indices):
        out = bytearray(b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0))
        out.append(2)  # min LZW code size for a 4-color palette
        comp = lzw_literals(indices)
        for lo in range(0, len(comp), 255):
            blk = comp[lo : lo + 255]
            out.append(len(blk))
            out += blk
        out.append(0)
        return out

    def gce(disposal, transparent=None):
        fl = (disposal << 2) | (1 if transparent is not None else 0)
        return bytes(
            [0x21, 0xF9, 4, fl, 0, 0, transparent if transparent is not None else 0, 0]
        )

    gif = bytearray(b"GIF89a" + struct.pack("<HHBBB", 8, 6, 0xF1, 0, 0))  # 4-entry GCT, bg=0
    gif += pal.tobytes()
    # frame 1: full screen of color 1, disposal keep
    gif += gce(1) + img_block(0, 0, 8, 6, np.full(48, 1))
    # frame 2: 3x2 patch of color 2 at (2,1) with transparent holes (idx 0), disposal restore-bg
    patch = np.array([2, 0, 2, 0, 2, 0])
    gif += gce(2, transparent=0) + img_block(2, 1, 3, 2, patch)
    # frame 3: 2x2 patch color 3 at (5,3), disposal keep
    gif += gce(1) + img_block(5, 3, 2, 2, np.full(4, 3))
    gif += b"\x3b"

    frames = decode_gif_frames(bytes(gif))
    assert len(frames) == 3
    c1 = np.tile(pal[1], (6, 8, 1))
    assert np.array_equal(frames[0], c1)
    # frame 2: holes show frame 1's color through (transparency)
    exp2 = c1.copy()
    exp2[1, 2] = pal[2]
    exp2[1, 4] = pal[2]
    exp2[2, 3] = pal[2]
    assert np.array_equal(frames[1], exp2)
    # frame 3: disposal 2 restored the bg color in frame 2's rect first
    exp3 = c1.copy()
    exp3[1:3, 2:5] = pal[0]
    exp3[3:5, 5:7] = pal[3]
    assert np.array_equal(frames[2], exp3)

    # a logical screen larger than its first image: decode_gif returns
    # the image's own rectangle, decode_gif_frames the screen canvas
    gif = bytearray(b"GIF89a" + struct.pack("<HHBBB", 8, 6, 0xF1, 0, 0))
    gif += pal.tobytes() + img_block(2, 1, 3, 2, np.array([2, 3, 2, 3, 2, 3]))
    gif += b"\x3b"
    rgb, w, h = decode_gif(bytes(gif))
    assert (w, h) == (3, 2)
    assert np.array_equal(rgb, pal[[[2, 3, 2], [3, 2, 3]]])
    (canvas,) = decode_gif_frames(bytes(gif))
    exp = np.tile(pal[0], (6, 8, 1))
    exp[1:3, 2:5] = rgb
    assert np.array_equal(canvas, exp)


def test_png_16bit_and_palette():
    """16-bit PNGs unfilter over byte lanes and return uint16; palette
    PNGs map through PLTE to RGB."""
    import struct
    import zlib

    import numpy as np

    from xarray_scipy_spark.pipeline.multimodal import decode_png

    rng = np.random.default_rng(6)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    for ch, color in ((1, 0), (3, 2), (4, 6)):
        h, w = 6, 5
        px = rng.integers(0, 65536, (h, w, ch)).astype(">u2")
        raw = bytearray()
        for r in range(h):
            raw.append(2 if r else 0)  # Up filter after the first row
            if r == 0:
                raw += px[r].tobytes()
            else:
                cur = px[r].view(np.uint8).reshape(-1).astype(int)
                prv = px[r - 1].view(np.uint8).reshape(-1).astype(int)
                raw += ((cur - prv) % 256).astype(np.uint8).tobytes()
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        dec, _, _ = decode_png(png)
        assert dec.dtype == np.uint16
        assert np.array_equal(dec.reshape(h, w, ch), np.asarray(px, dtype=np.uint16))

    h, w = 11, 7
    pal = rng.integers(0, 256, (64, 3)).astype(np.uint8)
    idx = rng.integers(0, 64, (h, w)).astype(np.uint8)
    raw = bytearray()
    for r in range(h):
        raw.append(0)
        raw += idx[r].tobytes()
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    dec, _, _ = decode_png(png)
    assert np.array_equal(dec, pal[idx])


def test_audio_spectral_features_bin_exact_tone():
    """A tone at an exact bin frequency concentrates its spectrum in
    that bin: peak == k*sr/n exactly; centroid within the int16
    quantization-leakage neighborhood; silence returns zeros."""
    import struct

    import numpy as np

    from xarray_scipy_spark.pipeline.multimodal import audio_spectral_features

    def wav(samples, sr=8000):
        pcm = (np.clip(samples, -1, 1) * 32767).round().astype("<i2").tobytes()
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(pcm))
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
            + b"data"
            + struct.pack("<I", len(pcm))
            + pcm
        )

    n, sr = 256, 8000
    for k in (5, 12, 60):
        tone = 0.8 * np.sin(2 * np.pi * k * np.arange(n) / n)
        c, b, p, fl = audio_spectral_features(wav(tone, sr))
        assert p == k * sr / n
        assert abs(c - p) < 1.0  # leakage-only deviation
        assert b < 25.0
        assert 0.0 <= fl < 0.05  # tonal: very low flatness
    c, b, p, fl = audio_spectral_features(wav(np.zeros(64), sr))
    assert (c, b, p, fl) == (0.0, 0.0, 0.0, 0.0)


def test_char_entropy_known_values(spark):
    """Entropy of constant / two-symbol / uniform-alphabet strings is
    exactly 0 / 1 / log2(k) bits."""
    import numpy as np
    import pandas as pd

    from xarray_scipy_spark.pipeline import char_entropy

    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "text": ["aaaa", "abab", "abcdefgh", "x"]}
        )
    )
    out = char_entropy(df).orderBy("doc_id").toPandas()
    np.testing.assert_allclose(out["entropy_bits"], [0.0, 1.0, 3.0, 0.0], atol=1e-12)
    assert list(out["n_chars"]) == [4, 4, 8, 1]


def test_kfold_and_class_weights(spark):
    """Folds are disjoint/exhaustive/deterministic; weights match the
    sklearn balanced formula."""
    import numpy as np
    import pandas as pd

    from xarray_scipy_spark.pipeline import class_weights, kfold_assign

    pdf = pd.DataFrame(
        {"doc_id": range(600), "lang": ["en"] * 400 + ["de"] * 150 + ["fr"] * 50}
    )
    df = spark.createDataFrame(pdf)
    f1 = kfold_assign(df, k=4).toPandas().sort_values("doc_id")
    f2 = kfold_assign(df, k=4).toPandas().sort_values("doc_id")
    assert (f1["fold"].to_numpy() == f2["fold"].to_numpy()).all()  # deterministic
    assert set(f1["fold"]) == {0, 1, 2, 3}
    assert len(f1) == 600  # exhaustive, one fold per row
    w = class_weights(df, label_col="lang").toPandas().set_index("label")
    np.testing.assert_allclose(w.loc["en", "weight"], 600 / (3 * 400))
    np.testing.assert_allclose(w.loc["de", "weight"], 600 / (3 * 150))
    np.testing.assert_allclose(w.loc["fr", "weight"], 600 / (3 * 50))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kfold_assign(df, k=1)


def test_zvalue_matches_python_interleave(spark):
    """zvalue = literal Morton interleave (python-reference parity on
    random coordinates, incl. the max 21-bit corner) and argument
    gates."""
    import numpy as np

    from xarray_scipy_spark.sources import zvalue

    rng = np.random.default_rng(5)
    xs = rng.integers(0, 1 << 21, 50).tolist() + [0, (1 << 21) - 1]
    ys = rng.integers(0, 1 << 21, 50).tolist() + [0, (1 << 21) - 1]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    got = [
        r["z"]
        for r in df.select(zvalue("x", "y").alias("z"))
        .orderBy("x", "y")
        .collect()
    ]

    def morton(x, y):
        z = 0
        for i in range(21):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    exp = [morton(x, y) for x, y in sorted(zip(xs, ys))]
    assert got == exp
    with pytest.raises(ValueError, match="bits"):
        df.select(zvalue("x", "y", bits=32))
    with pytest.raises(ValueError, match="at least one"):
        zvalue()


def test_write_zordered_prunes_both_dimensions(spark, tmp_path):
    """The multi-dim data-skipping claim, MEASURED: after a z-ordered
    write, a single-key equality predicate on EITHER dimension admits
    only a small fraction of row groups by min/max stats, where the
    unordered layout admits nearly all of them."""
    import glob

    import pyarrow.parquet as pq

    from xarray_scipy_spark.sources import write_zordered

    n = 1 << 16
    df = spark.range(n).select(
        (F.col("id") % 256).alias("x"),
        (F.pmod(F.col("id") * 7919, F.lit(256))).alias("y"),
    )
    zpath, upath = str(tmp_path / "z"), str(tmp_path / "u")
    write_zordered(df, zpath, zorder_by=["x", "y"], bits=8, num_files=16)
    df.repartition(16).write.parquet(upath)

    def admitted(path, col, val):
        hit = tot = 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    cc = rg.column(c)
                    if cc.path_in_schema == col:
                        tot += 1
                        st = cc.statistics
                        if st is None or (st.min <= val <= st.max):
                            hit += 1
        return hit, tot

    for col in ("x", "y"):
        zh, zt = admitted(zpath, col, 77)
        uh, ut = admitted(upath, col, 77)
        assert uh == ut  # unordered: every row group admits the value
        # z-ordered: each row group covers a small hyper-rectangle, so
        # most are skipped on either single dimension
        assert zh <= zt // 2, (col, zh, zt)

    back = spark.read.parquet(zpath)
    assert back.count() == n
    assert back.agg(F.sum("x")).collect()[0][0] == df.agg(F.sum("x")).collect()[0][0]


# --- edit_distance_pairs (deletion-neighborhood blocking) -------------------


def _lev(a, b):
    import functools

    @functools.lru_cache(None)
    def d(i, j):
        if i == 0:
            return j
        if j == 0:
            return i
        return min(
            d(i - 1, j) + 1,
            d(i, j - 1) + 1,
            d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
        )

    return d(len(a), len(b))


def test_edit_distance_pairs_matches_brute_force(spark):
    import xarray_scipy_spark.pipeline as pl

    words = [
        "spark", "spars", "sparks", "stark", "stack", "quack", "quark",
        "a", "ab", "abc", "hello world", "hello wurld", "hellowo rld",
        "xx", "xy", "yx",
        # byte-identical duplicates: the collapsed path must still emit
        # every dist=0 pair AND their cross-group near-dup pairs
        "spark", "spark", "stack", "hello world",
    ]
    df = spark.createDataFrame(list(enumerate(words)), "id long, s string")
    for k in (1, 2):
        got = {
            (r["a_id"], r["b_id"]): r["dist"]
            for r in pl.edit_distance_pairs(
                df, id_col="id", str_col="s", max_dist=k
            ).collect()
        }
        exp = {
            (i, j): _lev(words[i], words[j])
            for i in range(len(words))
            for j in range(i + 1, len(words))
            if _lev(words[i], words[j]) <= k
        }
        assert got == exp, k


def test_edit_distance_pairs_gates(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame([(0, "x")], "id long, s string")
    with pytest.raises(ValueError, match="max_dist"):
        pl.edit_distance_pairs(df, id_col="id", str_col="s", max_dist=3)
    with pytest.raises(ValueError, match="dup_buckets"):
        pl.edit_distance_pairs(
            df, id_col="id", str_col="s", max_dist=1, dup_buckets=0
        )


def test_edit_distance_pairs_exact_dup_hot_key(spark):
    """VERDICT r8 #3: 10⁴ byte-identical copies of one string. The old
    variant self-join made this an N²·|variants| hot key (dead at this
    size); the collapsed path's only quadratic stage is the C(N,2)
    OUTPUT itself, generated across ~dup_buckets²/2 bucket-pair tasks.
    Checks the exact pair count and that no id pairs with itself."""
    import xarray_scipy_spark.pipeline as pl

    n = 10_000
    df = spark.createDataFrame(
        [(i, "the same twenty-four ch") for i in range(n)]
        + [(n, "the same twenty-four cX")],  # one near-dup neighbor
        "id long, s string",
    )
    res = pl.edit_distance_pairs(df, id_col="id", str_col="s", max_dist=1)
    agg = res.groupBy("dist").count().collect()
    by_dist = {r["dist"]: r["count"] for r in agg}
    assert by_dist[0] == n * (n - 1) // 2
    assert by_dist[1] == n  # the neighbor pairs with every copy
    assert res.filter(F.col("a_id") >= F.col("b_id")).count() == 0


# --- bm25_scores ------------------------------------------------------------


def test_bm25_matches_reference_formula(spark):
    import math

    import xarray_scipy_spark.pipeline as pl

    docs = [
        (0, "data query data engine"),
        (1, "window stream window window data"),
        (2, "totally unrelated words here"),
        (3, "query"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    terms = ["data", "query", "window"]
    got = {
        r["doc_id"]: (r["n_match"], r["score"])
        for r in pl.bm25_scores(df, terms, k1=1.2, b=0.75).collect()
    }
    # reference computation
    toks = {i: t.split() for i, t in docs}
    N = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / N
    dfreq = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    exp = {}
    for i, v in toks.items():
        s, m = 0.0, 0
        for t in terms:
            tf = v.count(t)
            if tf == 0:
                continue
            m += 1
            idf = math.log(1 + (N - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(v) / avgdl))
        if m:
            exp[i] = (m, s)
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0]
        assert got[i][1] == pytest.approx(exp[i][1], rel=1e-12)


def test_bm25_empty_query_raises(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="query_terms"):
        pl.bm25_scores(df, [])


# --- apply_cdc --------------------------------------------------------------


def test_apply_cdc_tombstone_semantics(spark):
    import xarray_scipy_spark.pipeline as pl

    rows = [
        # key 1: insert then update -> survives with v=20
        (1, 10, "U", 10.0), (1, 20, "U", 20.0),
        # key 2: update then delete -> gone
        (2, 10, "U", 5.0), (2, 30, "D", 0.0),
        # key 3: delete then re-insert -> survives (delete must not
        # shadow a LATER upsert)
        (3, 10, "D", 0.0), (3, 15, "U", 7.0),
        # key 4: tie on order -> tiebreak picks larger seq
        (4, 10, "U", 1.0), (4, 10, "D", 2.0),
    ]
    df = spark.createDataFrame(
        [(k, t, op, v, i) for i, (k, t, op, v) in enumerate(rows)],
        "k long, t long, op string, v double, seq long",
    )
    got = {
        r["k"]: (r["op"], r["v"])
        for r in pl.apply_cdc(
            df, keys=["k"], order_col="t", op_col="op", tiebreak="seq"
        ).collect()
    }
    assert got == {1: ("U", 20.0), 3: ("U", 7.0)}


# --- weighted_sample --------------------------------------------------------


def test_weighted_sample_deterministic_and_weighted(spark):
    import xarray_scipy_spark.pipeline as pl

    rows = [(i, "g", 1000.0 if i < 20 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    a = pl.weighted_sample(
        df, id_col="id", weight_col="w", k=30, group_cols=["g"]
    ).collect()
    b = pl.weighted_sample(
        df.repartition(7), id_col="id", weight_col="w", k=30, group_cols=["g"]
    ).collect()
    # partitioning-independent, exact-by-id
    assert sorted((r["id"], r["smp_rank"]) for r in a) == sorted(
        (r["id"], r["smp_rank"]) for r in b
    )
    kept = {r["id"] for r in a}
    assert len(kept) == 30
    # the 20 heavy ids (1000x weight) should nearly all be kept
    assert len(kept & set(range(20))) >= 15


def test_weighted_sample_global_and_gates(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        [(i, float(i + 1)) for i in range(50)], "id long, w double"
    )
    top = pl.weighted_sample(df, id_col="id", weight_col="w", k=10).collect()
    assert len(top) == 10
    assert sorted(r["smp_rank"] for r in top) == list(range(1, 11))
    with pytest.raises(ValueError, match="k must be"):
        pl.weighted_sample(df, id_col="id", weight_col="w", k=0)
    # non-positive weights excluded
    dfz = spark.createDataFrame([(1, 0.0), (2, 3.0)], "id long, w double")
    got = pl.weighted_sample(dfz, id_col="id", weight_col="w", k=5).collect()
    assert [r["id"] for r in got] == [2]


# --- data-quality layer (pipeline/quality.py) -------------------------------


def test_data_profile_known_values(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", None), (3, None, 4.0), (3, "b", 4.0)],
        "id long, s string, x double",
    )
    out = {r["column"]: r for r in pl.data_profile(df).collect()}
    assert set(out) == {"id", "s", "x"}
    assert out["id"]["n"] == 4 and out["id"]["n_null"] == 0
    assert out["id"]["n_distinct"] == 3
    assert out["id"]["min_val"] == "1" and out["id"]["max_val"] == "3"
    assert out["s"]["n_null"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["mean_q"] is None
    assert out["x"]["n_null"] == 1
    assert abs(out["x"]["mean_q"] - (2.0 + 4.0 + 4.0) / 3) < 1e-6  # 6-dec round
    # column subset + request order preserved
    sub = pl.data_profile(df, columns=["x", "id"]).collect()
    assert [r["column"] for r in sub] == ["x", "id"]
    with pytest.raises(ValueError, match="not in DataFrame"):
        pl.data_profile(df, columns=["nope"])


def test_constraint_check_verdicts(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        [(1, 1, "A", 10.0), (1, 2, "N", -1.0), (1, 2, "X", 5.0), (2, 1, None, 0.0)],
        "k long, ln long, flag string, v double",
    )
    out = {r["constraint"]: r for r in pl.constraint_check(df, [
        {"kind": "not_null", "column": "flag"},
        {"kind": "unique", "columns": ["k", "ln"]},
        {"kind": "in_set", "column": "flag", "values": ["A", "N"]},
        {"kind": "between", "column": "v", "min": 0, "max": 10},
        {"kind": "min_rows", "value": 10},
        {"kind": "non_negative", "column": "v"},
    ]).collect()}
    assert out["not_null(flag)"]["n_violations"] == 1
    assert not out["not_null(flag)"]["passed"]
    assert out["unique(k, ln)"]["n_violations"] == 1  # (1,2) twice
    assert out["in_set(flag)"]["n_violations"] == 1  # 'X'; null not counted
    assert out["between(v, 0, 10)"]["n_violations"] == 1  # -1.0
    assert out["min_rows(10)"]["n_violations"] == 6 and not out["min_rows(10)"]["passed"]
    assert out["non_negative(v)"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in out.values())
    ok = pl.constraint_check(df, [{"kind": "min_rows", "value": 4}]).collect()[0]
    assert ok["passed"] and ok["n_violations"] == 0
    with pytest.raises(ValueError, match="unknown constraint kind"):
        pl.constraint_check(df, [{"kind": "made_up"}])
    with pytest.raises(ValueError, match="at least one"):
        pl.constraint_check(df, [])


def test_windowed_constraints_one_window_equals_constraint_check(spark):
    """Over a static frame whose events all fall in one window,
    ``windowed_constraints`` gives ``constraint_check``'s verdict rows
    (every kind but ``unique``), in request order."""
    import xarray_scipy_spark.pipeline as pl

    base_ns = 1_700_000_040 * 1_000_000_000  # a 60 s window boundary
    df = spark.createDataFrame(
        [
            (base_ns + i * 1_000_000_000, k, flag, v)
            for i, (k, flag, v) in enumerate(
                [(1, "A", 10.0), (1, "N", -1.0), (2, "X", 5.0), (2, None, 0.0), (3, "A", None)]
            )
        ],
        "ts long, k long, flag string, v double",
    )
    cons = [
        {"kind": "not_null", "column": "flag"},
        {"kind": "in_set", "column": "flag", "values": ["A", "N"]},
        {"kind": "between", "column": "v", "min": 0, "max": 10},
        {"kind": "min_rows", "value": 10},
        {"kind": "non_negative", "column": "v"},
        {"kind": "min_rows", "value": 2},
    ]
    win = pl.windowed_constraints(df, dim="ts", constraints=cons).collect()
    assert {r["window_start"] for r in win} == {base_ns // 1_000_000_000}
    batch = [tuple(r) for r in pl.constraint_check(df, cons).collect()]
    assert [tuple(r)[1:] for r in win] == batch


def test_quality_layer_single_pass_plans(spark):
    """data_profile: the stats ride one aggregation (plus the Expand
    the exact multi-column distinct requires); constraint_check with
    no unique constraint is ONE exchange and no Expand at all."""
    import xarray_scipy_spark.pipeline as pl

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    plan = (
        pl.constraint_check(df, [
            {"kind": "not_null", "column": "l_orderkey"},
            {"kind": "between", "column": "l_quantity", "min": 1, "max": 50},
            {"kind": "min_rows", "value": 10},
        ])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # partial->final single agg
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_frequent_values_known(spark):
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 1), (None, 3)],
        "s string, x long",
    )
    out = pl.frequent_values(df, ["s", "x"], k=2).collect()
    by = {}
    for r in out:
        by.setdefault(r["column"], []).append((r["rank"], r["value"], r["cnt"]))
    assert sorted(by["s"]) == [(1, "a", 3), (2, "b", 1)]  # null excluded
    assert sorted(by["x"]) == [(1, "1", 3), (2, "2", 1)]  # tie: "2" < "3"
    with pytest.raises(ValueError, match="at least one"):
        pl.frequent_values(df, [])
    with pytest.raises(ValueError, match="k must be"):
        pl.frequent_values(df, ["s"], k=0)


def test_data_profile_approx_distinct_path(spark):
    """exact_distinct=False: the HLL++ estimates fold into ONE
    aggregate (no Expand, single scan) and land within the configured
    relative error on a known-cardinality column."""
    import xarray_scipy_spark.pipeline as pl

    df = spark.range(0, 20_000).select(
        F.col("id"), (F.col("id") % 100).alias("c")
    )
    res = pl.data_profile(df, ["id", "c"], exact_distinct=False, rsd=0.02)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    out = {r["column"]: r for r in res.collect()}
    assert abs(out["id"]["n_distinct"] - 20_000) <= 20_000 * 0.06
    assert abs(out["c"]["n_distinct"] - 100) <= 8


def test_missing_windows_interior_and_trailing(spark):
    """Heartbeat detection: interior gaps come from the observed span;
    trailing silence needs the explicit range_end (the documented
    windowed_constraints min_rows caveat)."""
    import xarray_scipy_spark.pipeline as pl

    obs = spark.createDataFrame(
        [(0,), (60,), (180,), (240,)], "window_start long"
    )
    interior = [
        r["window_start"]
        for r in pl.missing_windows(obs, window_seconds=60).collect()
    ]
    assert interior == [120]
    # a feed that died at t=300: only the pinned horizon can see it
    full = [
        r["window_start"]
        for r in pl.missing_windows(
            obs, window_seconds=60, range_start=0, range_end=480
        ).collect()
    ]
    assert full == [120, 300, 360, 420]
    # the grid aligns to epoch buckets even for unaligned ranges
    aligned = [
        r["window_start"]
        for r in pl.missing_windows(
            obs, window_seconds=60, range_start=70, range_end=200
        ).collect()
    ]
    assert aligned == [120]


def test_missing_windows_edge_cases(spark):
    """Empty observations yield an empty (not crashing) result without
    an explicit range; a full range over empty observations reports
    every window; bad window_seconds rejects."""
    import pytest as _pytest

    import xarray_scipy_spark.pipeline as pl

    empty = spark.createDataFrame([], "window_start long")
    assert pl.missing_windows(empty, window_seconds=60).count() == 0
    allmiss = pl.missing_windows(
        empty, window_seconds=60, range_start=0, range_end=180
    )
    assert [r["window_start"] for r in allmiss.collect()] == [0, 60, 120]
    with _pytest.raises(ValueError, match="window_seconds"):
        pl.missing_windows(empty, window_seconds=0)


def test_missing_windows_composes_with_windowed_constraints(spark):
    """End-to-end: windowed_constraints output feeds missing_windows
    directly — the silent window appears in neither constraint row
    but IS reported as missing."""
    import datetime as _dt

    import xarray_scipy_spark.pipeline as pl

    base = _dt.datetime(2026, 1, 1)
    rows = [
        (base + _dt.timedelta(seconds=s), float(v))
        for s, v in [(5, 1.0), (20, 2.0), (130, 3.0)]  # window 60-120 silent
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = pl.windowed_constraints(
        df,
        dim="ts",
        constraints=[{"kind": "non_negative", "column": "value"}],
        window="60 seconds",
        watermark="10 minutes",
    )
    starts = sorted(r["window_start"] for r in out.collect())
    epoch0 = int(base.replace(tzinfo=_dt.timezone.utc).timestamp())
    assert starts == [epoch0, epoch0 + 120]
    gaps = pl.missing_windows(out, window_seconds=60)
    assert [r["window_start"] for r in gaps.collect()] == [epoch0 + 60]


def test_keep_best_resolves_clusters_deterministically(spark):
    """keep_best: transitive pairs collapse to one survivor per
    cluster (max quality, ties -> min id); unpaired docs are their own
    singleton cluster with kept=True."""
    import xarray_scipy_spark.pipeline as pl

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (5, 99)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "a_id long, b_id long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep_id"], r["kept"], r["n_members"])
        for r in pl.keep_best(docs, pairs, quality_col="quality").collect()
    }
    # cluster {1,2,3}: quality 10/50/50 -> tie between 2 and 3 -> min id 2
    assert out[1] == (1, 2, False, 3)
    assert out[2] == (1, 2, True, 3)
    assert out[3] == (1, 2, False, 3)
    # singletons keep themselves
    assert out[4] == (4, 4, True, 1)
    assert out[5] == (5, 5, True, 1)


def test_duplicate_clusters_raises_instead_of_cutting_off(spark):
    """Min-label propagation moves a label one hop per round: an
    80-node path needs 79 rounds, so the default max_iter=30 stops
    with the path split into 50 clusters and must raise rather than
    return them. An 80-node star converges in three rounds."""
    import xarray_scipy_spark.pipeline as pl

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(79)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        pl.duplicate_clusters(path)
    # the hub holds the largest id, so the leaves learn the minimum
    # only in the second round
    star = spark.createDataFrame(
        [(79, i) for i in range(79)], "a_id long, b_id long"
    )
    got = pl.duplicate_clusters(star).collect()
    assert len(got) == 80
    assert {r["cluster_id"] for r in got} == {0}


def test_keep_best_stable_under_repartition(spark):
    import xarray_scipy_spark.pipeline as pl

    docs = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(40)], "doc_id long, quality long"
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 38, 2)], "a_id long, b_id long"
    )
    a = sorted(map(tuple, pl.keep_best(docs, pairs, quality_col="quality").collect()))
    b = sorted(
        map(
            tuple,
            pl.keep_best(
                docs.repartition(7), pairs.repartition(3), quality_col="quality"
            ).collect(),
        )
    )
    assert a == b


def test_key_skew_profile_exact_buckets(spark):
    """Counts 1,1,3,8 land in integer bit-length buckets 0/1/3 with
    exact per-bucket key counts, row sums, and maxima."""
    import xarray_scipy_spark.pipeline as pl

    rows = (
        [("a",)] * 1 + [("b",)] * 1 + [("c",)] * 3 + [("d",)] * 8
    )
    df = spark.createDataFrame(rows, "k string")
    got = {
        r["log2_bucket"]: (r["n_keys"], r["n_rows"], r["max_count"])
        for r in pl.key_skew_profile(df, key_col="k").collect()
    }
    assert got == {0: (2, 2, 1), 1: (1, 3, 3), 3: (1, 8, 8)}


def test_key_skew_profile_null_key_counts(spark):
    """NULL keys hash to one reducer like any value — they must appear
    in the histogram, not vanish."""
    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame(
        [(None,), (None,), (None,), (None,), ("x",)], "k string"
    )
    got = {
        r["log2_bucket"]: (r["n_keys"], r["n_rows"], r["max_count"])
        for r in pl.key_skew_profile(df, key_col="k").collect()
    }
    assert got == {0: (1, 1, 1), 2: (1, 4, 4)}


def test_split_assign_clustered_is_leakage_safe(spark):
    """Every member of a duplicate cluster gets the SAME split, and
    unpaired docs split exactly as plain split_assign would."""
    import xarray_scipy_spark.pipeline as pl

    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (30, 45)], "a_id long, b_id long"
    )
    out = pl.split_assign_clustered(
        docs, pairs, weights={"train": 0.6, "val": 0.2, "test": 0.2}
    )
    rows = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in out.collect()}
    assert len(rows) == 60
    for cluster in ([0, 1, 2], [10, 11], [30, 45]):
        splits = {rows[d][1] for d in cluster}
        assert len(splits) == 1, cluster
        assert {rows[d][0] for d in cluster} == {min(cluster)}
    plain = {
        r["doc_id"]: r["split"]
        for r in pl.split_assign(
            docs, weights={"train": 0.6, "val": 0.2, "test": 0.2}
        ).collect()
    }
    clustered_ids = {0, 1, 2, 10, 11, 30, 45}
    for d in set(rows) - clustered_ids:
        assert rows[d] == (d, plain[d]), d


def test_keep_best_matches_union_find_reference(spark):
    """keep_best vs a brute-force Python union-find + argmax reference
    over several deterministic random graphs (self-loops, multi-edges,
    reversed duplicates included)."""
    import random

    import xarray_scipy_spark.pipeline as pl

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        n = 80
        quality = {i: rng.randrange(0, 9) for i in range(n)}
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(50)
        ]
        # reference: union-find
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps: dict[int, list[int]] = {}
        for i in range(n):
            comps.setdefault(find(i), []).append(i)
        expect = {}
        for members in comps.values():
            cluster_id = min(members)
            keep = max(members, key=lambda d: (quality[d], -d))
            for d in members:
                expect[d] = (cluster_id, keep, d == keep, len(members))

        docs = spark.createDataFrame(
            [(i, quality[i]) for i in range(n)], "doc_id long, quality long"
        )
        # drop self-loops: pair emitters never produce them, and the
        # reference treats them as no-ops anyway
        pair_rows = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(pair_rows, "a_id long, b_id long")
        got = {
            r["doc_id"]: (
                r["cluster_id"],
                r["keep_id"],
                r["kept"],
                r["n_members"],
            )
            for r in pl.keep_best(docs, pairs, quality_col="quality").collect()
        }
        assert got == expect, seed


def test_auc_exact_guard_fires_over_cap(spark):
    """ADVICE r11 #4: the max_distinct_scores guard must reject an
    over-cap (unquantized-float-signature) score column with a clear
    ValueError, and pass untouched just under the cap."""
    from xarray_scipy_spark.pipeline.features import auc_exact

    df = spark.createDataFrame(
        [(i, i % 2) for i in range(40)], "score long, label int"
    )
    # 40 distinct scores > cap=10 -> loud reject at the histogram stage
    with pytest.raises(ValueError, match="max_distinct_scores"):
        auc_exact(df, score_col="score", label_col="label",
                  max_distinct_scores=10)
    # just under the cap: no raise, and the identity still holds
    row = auc_exact(
        df, score_col="score", label_col="label", max_distinct_scores=40
    ).collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (20, 20)
    # scores 1,3,..,39 are positives: AUC = P(pos > neg) with ties
    # impossible here; brute force the tiny case
    pos = list(range(1, 40, 2))
    neg = list(range(0, 40, 2))
    wins = sum((p > q) + 0.5 * (p == q) for p in pos for q in neg)
    assert abs(row["auc_q"] - round(wins / (20 * 20), 6)) < 1e-9


def test_hash_uniform_engines(spark):
    """The md5 uniform is byte-equal to its DuckDB h60 twin, and the
    sampling functions built on it keep their own contracts: a
    deterministic stratified sample, exactly n rows per group from
    cap_per_group, k deterministic ranks from weighted_sample, and
    mix_datasets rates."""
    import duckdb

    import xarray_scipy_spark.pipeline as pl

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    got = {
        r["doc_id"]: r["u"]
        for r in df.select(
            "doc_id", pl.hash_uniform("doc_id", salt="s").alias("u")
        ).collect()
    }
    exp = dict(
        duckdb.sql(
            "SELECT i, ('0x' || substring(md5('s|' || CAST(i AS VARCHAR)), 1, 15))::BIGINT"
            " / 16.0^15 FROM range(200) t(i)"
        ).fetchall()
    )
    assert got == exp

    docs = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i % 7) + 1.0) for i in range(400)],
        "doc_id long, grp string, wt double",
    )
    s1 = {r["doc_id"] for r in pl.stratified_sample(
        docs, fractions="0.25").collect()}
    s2 = {r["doc_id"] for r in pl.stratified_sample(
        docs.repartition(5), fractions="0.25").collect()}
    assert s1 == s2 and 40 < len(s1) < 160
    capped = pl.cap_per_group(docs, by=["grp"], id_col="doc_id", n=5)
    rows = capped.groupBy("grp").count().collect()
    assert {r["grp"]: r["count"] for r in rows} == {"a": 5, "b": 5}
    w1 = {(r["doc_id"], r["smp_rank"]) for r in pl.weighted_sample(
        docs, id_col="doc_id", weight_col="wt", k=7
    ).collect()}
    w2 = {(r["doc_id"], r["smp_rank"]) for r in pl.weighted_sample(
        docs.repartition(3), id_col="doc_id", weight_col="wt", k=7
    ).collect()}
    assert w1 == w2 and len(w1) == 7
    out = pl.mix_datasets({"x": docs, "y": docs}, {"x": 0.5, "y": 1.0})
    cnt = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert cnt["y"] == 400 and 120 < cnt["x"] < 280


def test_ares_key_guard_modes(spark):
    """Both md5 rounding boundaries lose the A-Res draw: u == 0 (log
    is NULL, which sorts first under the descending key) and u == 1.0
    (key 0, the maximum) both map to −inf, while an ordinary u keeps
    ln(u)/w. Driven with literal boundary uniforms (the raw boundary
    hashes are ~1e-16-rare, unreachable by enumeration)."""
    import math

    from pyspark.sql import functions as F

    from xarray_scipy_spark.pipeline.sample import _ares_key

    df = spark.createDataFrame([(0.0,), (1.0,), (0.5,)], "u double")
    keys = [
        r["k"]
        for r in df.select(_ares_key(F.col("u"), F.lit(2.0)).alias("k")).collect()
    ]
    assert keys[0] == float("-inf")
    assert keys[1] == float("-inf")
    assert abs(keys[2] - math.log(0.5) / 2.0) < 1e-15


def test_weighted_sample_guarded_matches_staged_oracle(spark):
    """weighted_sample must match the guarded DuckDB oracle of the
    registered query byte-for-byte on real data."""
    import duckdb

    import xarray_scipy_spark.pipeline as pl
    from xarray_scipy_spark import contract as C

    sf = "/root/testdata/sf0.001"
    d = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("lang", "doc_id", "n_chars")
    )
    got = sorted(
        map(
            tuple,
            pl.weighted_sample(
                d, id_col="doc_id", weight_col="n_chars", k=C._WS_K,
                group_cols=["lang"],
            ).collect(),
        )
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    exp = sorted(map(tuple, con.execute(C._weighted_sample_oracle()).fetchall()))
    assert got == exp


def test_weighted_sample_zero_u_loses(spark):
    """A row whose uniform is exactly 0.0 must LOSE weighted
    selection, not win it: log(0) is NULL in Spark and NULL sorts
    first under the descending key order (ADVICE r12 #1). Pin the
    guard by driving weighted_sample's key expression (``_ares_key``)
    with a forced-zero uniform."""
    from pyspark.sql import functions as F

    from xarray_scipy_spark.pipeline.sample import _ares_key

    # u pinned per-row: id 1 has u=0 (the pathological draw), ids 2..4
    # have ordinary draws
    df = spark.createDataFrame(
        [(1, 0.0, 1e9), (2, 0.5, 1.0), (3, 0.9, 1.0), (4, 0.2, 1.0)],
        "id long, u double, w double",
    )
    key = _ares_key(F.col("u"), F.col("w"))
    got = [
        r["id"]
        for r in df.select("id", key.alias("k"))
        .orderBy(F.col("k").desc(), "id")
        .collect()
    ]
    # the zero-u row sorts LAST despite its huge weight
    assert got[-1] == 1
    # end-to-end: weighted_sample never returns a NULL-keyed winner —
    # every selected id must carry a finite key (md5 path, real data)
    import xarray_scipy_spark.pipeline as pl

    data = spark.createDataFrame(
        [(i, float(1 + i % 7)) for i in range(500)], "doc_id long, w double"
    )
    picked = pl.weighted_sample(data, id_col="doc_id", weight_col="w", k=25)
    assert picked.count() == 25


def test_split_assign_clustered_rejects_cluster_id_input(spark):
    """ADVICE r11 #1: composing with duplicate_clusters/keep_best
    output (which already carries cluster_id) must raise a clear
    ValueError instead of AMBIGUOUS_REFERENCE."""
    import xarray_scipy_spark.pipeline as pl

    docs = spark.createDataFrame(
        [(i, i) for i in range(10)], "doc_id long, cluster_id long"
    )
    pairs = spark.createDataFrame([(0, 1)], "a_id long, b_id long")
    with pytest.raises(ValueError, match="cluster_id"):
        pl.split_assign_clustered(docs, pairs)


@pytest.mark.parametrize("fit", ["embedding_moments", "fit_ridge", "fit_logistic"])
def test_driver_reductions_skip_null_rows(spark, fit):
    """The three driver-side reductions skip a row with a NULL in any
    column they read and count only the rows used: the fit with NULL
    rows present equals the fit without them."""
    import numpy as np

    import xarray_scipy_spark.pipeline as pl

    rng = np.random.default_rng(17)
    X = rng.standard_normal((80, 2))
    y = (X @ [1.5, -2.0] + rng.standard_normal(80) > 0).astype(float)
    rows = [(float(a), float(b), [float(a), float(b)], float(v)) for (a, b), v in zip(X, y)]
    # each NULL row has a NULL vector and a NULL feature or label
    nulls = [(None, 1.0, None, 1.0), (0.5, 0.5, None, None)]
    schema = "f0 double, f1 double, vec array<double>, y double"
    clean = spark.createDataFrame(rows, schema).repartition(3)
    dirty = spark.createDataFrame(rows + nulls, schema).repartition(3)
    if fit == "embedding_moments":
        (n, *got), (n0, *want) = (pl.embedding_moments(d) for d in (dirty, clean))
        assert n == n0 == len(rows)
    else:
        got, want = (getattr(pl, fit)(d, ["f0", "f1"], "y") for d in (dirty, clean))
    for g, w in zip(got, want):
        np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-12)


def test_kmeans_cells_null_vector_has_no_row(spark):
    """A NULL vector takes no part in the initial centroids or the
    means, and gets no output row."""
    import numpy as np

    import xarray_scipy_spark.pipeline as pl

    rng = np.random.default_rng(19)
    vecs = rng.standard_normal((60, 4)) + rng.integers(0, 3, 60)[:, None] * 3.0
    rows = [(i + 1, [float(x) for x in v]) for i, v in enumerate(vecs)]
    schema = "vec_id bigint, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    # id 0 sorts first, so it would be an initial centroid
    dirty = spark.createDataFrame([(0, None)] + rows, schema)
    got, want = (
        pl.kmeans_cells(d, k=3, iters=3).toPandas().sort_values("vec_id").reset_index(drop=True)
        for d in (dirty, clean)
    )
    pd.testing.assert_frame_equal(got, want)


def test_pack_sequences_null_size_keeps_its_row(spark):
    """A chunk with a NULL ``n_tokens`` keeps its row with NULL pack
    columns; the other chunks pack as if it were not there."""
    import numpy as np

    import xarray_scipy_spark.pipeline as pl

    sizes = np.random.default_rng(23).integers(50, 900, 120)
    pdf = pd.DataFrame({"chunk_id": range(120), "n_tokens": sizes})
    clean = spark.createDataFrame(pdf.drop(index=7), "chunk_id bigint, n_tokens bigint")
    dirty = spark.createDataFrame(
        [(int(i), None if i == 7 else int(s)) for i, s in zip(pdf["chunk_id"], sizes)],
        "chunk_id bigint, n_tokens bigint",
    )
    got, want = (
        pl.pack_sequences(d, budget=2048, partitions=4).toPandas().set_index("chunk_id")
        for d in (dirty, clean)
    )
    assert len(got) == 120
    assert got.loc[7].isna().all()
    pd.testing.assert_frame_equal(
        got.drop(index=7).sort_index(), want.sort_index(), check_dtype=False
    )
