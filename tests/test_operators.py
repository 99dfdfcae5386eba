"""Dedup / similarity / text / multimodal operator tests (vs exact baselines)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_minhash_lsh_finds_exact_pairs(spark, docs):
    """Verified LSH output must be a subset of exact pairs; recall high."""
    from activedata_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", k=64, bands=16, threshold=0.5
        ).collect()
    }
    assert lsh <= exact
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} too low ({len(lsh)}/{len(exact)})"


def test_simhash_near_dup_on_synthetic(spark):
    """Identical docs -> hamming 0; near-identical -> small hamming."""
    from activedata_etl_spark.operators.dedup import simhash_pairs

    base = "the quick brown fox jumps over the lazy dog " * 20
    # doc 3 swaps ONE token occurrence of 180 -> tiny weight shift
    rows = [(1, base), (2, base), (3, base.replace("lazy", "sleepy", 1)),
            (4, "completely different text about spark engines and parquet files " * 15)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3  # banding guarantee zone
    assert not any(4 in p for p in pairs)


def test_exact_dup_groups(spark):
    from activedata_etl_spark.operators.dedup import exact_dup_groups

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "aaa")], "doc_id long, text string"
    )
    g = exact_dup_groups(df, "doc_id", "text").collect()
    assert len(g) == 1
    assert g[0]["n_docs"] == 3 and g[0]["keep_id"] == 1
    assert g[0]["doc_ids"] == [1, 2, 4]


def test_ann_recall_vs_exact(spark, emb):
    from activedata_etl_spark.operators.similarity import cosine_topk, lsh_ann_topk

    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, q, k=5, n_planes=2, n_tables=6).collect()
    }
    # multi-table LSH on near-random embeddings: miss prob ~(1-p)^L
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.6, f"ANN recall {recall:.2f}"
    # scores must be true cosines: spot-check range
    top1 = lsh_ann_topk(emb, q, k=1, n_planes=2, n_tables=2).collect()
    assert -1.0 <= top1[0]["score"] <= 1.0
    # string ids: buckets depend on the vectors only, so the neighbours are
    # the long-id ones, reported under the string ids
    def sid(df):
        return df.select(
            F.concat(F.lit("v"), F.col("vec_id").cast("string")).alias("vec_id"),
            "embedding")

    got = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in lsh_ann_topk(sid(emb), sid(q), k=1, n_planes=2,
                              n_tables=2).collect()
    }
    assert got == {
        (f"v{r['query_id']}", f"v{r['neighbor_id']}", r["score"]) for r in top1
    }


def test_multimodal_feature_extraction(spark, docs):
    from activedata_etl_spark.multimodal import extract_features, media_from_documents

    media = media_from_documents(docs.limit(20))
    feats = extract_features(media).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["kind"] in ("image", "audio", "video")
        assert r["n_bytes"] > 0
        assert len(r["payload_sha256"]) == 64
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])

    # determinism: same payload -> same feature
    again = extract_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in again
    }


def test_quarantine_invalid_and_late(spark, tmp_path):
    """Dead-letter (null key) + DATA_TOO_OLD late events go to quarantine."""
    from activedata_etl_spark.functions.normalize import normalize_batch
    from activedata_etl_spark.lake.merge import apply_batch
    from activedata_etl_spark.streaming.replay import ensure_table

    cols = ("partition int, offset long, commit_seq long, op string, repo string, "
            "path string, commit string, lang string, content string, ts timestamp")
    import datetime as dt

    t1 = dt.datetime(2024, 6, 1)
    old = dt.datetime(2023, 1, 1)
    b0 = spark.createDataFrame(
        [(0, 0, 0, "insert", "r", "a.py", "c" * 12, None, "X", t1)], cols
    )
    loc = str(tmp_path / "lake_q")
    table = ensure_table(spark, loc, b0.schema)
    apply_batch(table, normalize_batch(b0), 0, late_threshold_sec=86400)

    b1 = spark.createDataFrame(
        [
            (0, 1, 1, "insert", None, "bad.py", "d" * 12, None, "Y", t1),   # invalid
            (0, 2, 2, "insert", "r", "late.py", "e" * 12, None, "Z", old),  # too late
            (0, 3, 3, "insert", "r", "ok.py", "f" * 12, None, "W", t1),     # fine
        ],
        cols,
    )
    s = apply_batch(table, normalize_batch(b1), 1, late_threshold_sec=86400)
    assert s["rows_applied"] == 1
    lin = table.read_lineage().where("partition = -1").orderBy("batch_id").collect()
    assert lin[-1]["invalid_events"] == 1 and lin[-1]["late_events"] == 1

    qr = spark.read.parquet(f"{loc}/quarantine/b1")
    assert {r["path"] for r in qr.collect()} == {"bad.py", "late.py"}
    assert {r["path"] for r in table.read().collect()} == {"a.py", "ok.py"}


def test_simhash_banding_covers_max_hamming(spark):
    """A pair at hamming 6 with differing bits SPREAD across the old 4
    16-bit chunks must still be found when max_hamming >= 6 (pigeonhole
    banding derives chunk count from max_hamming)."""
    from activedata_etl_spark.operators.dedup import simhash, simhash_pairs

    base = " ".join(f"tok{i}" for i in range(400))
    mutated = base
    # empirically perturb until the pair's differing bits spread widely:
    # swap a handful of distinct tokens (each flips an independent bit set)
    for i in range(0, 60, 10):
        mutated = mutated.replace(f"tok{i} ", f"tokX{i} ")
    df = spark.createDataFrame([(1, base), (2, mutated)], "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    ham = bin(sigs[1] ^ sigs[2]).count("1")
    assert 4 <= ham <= 12, f"fixture drifted: hamming={ham}"

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(df, "doc_id", "text", max_hamming=ham).collect()}
    assert pairs.get((1, 2)) == ham  # found, exact hamming reported


def test_embedding_neardup_tiled_matches_exact(spark, emb):
    """Tiled distributed near-dup == brute-force numpy result; and the plan
    contains no Collect on the driver (operator is fully distributed)."""
    import numpy as np

    from activedata_etl_spark.kernels import round6_half_away
    from activedata_etl_spark.operators.dedup import embedding_neardup_pairs

    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    sims = round6_half_away((mat @ mat.T) / np.outer(norms, norms))
    ii, jj = np.nonzero((sims >= 0.5) & (ids[:, None] < ids[None, :]))
    expect = {(int(ids[i]), int(ids[j])): sims[i, j] for i, j in zip(ii, jj)}

    out = embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.5,
                                  n_blocks=5)
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert got == expect


def test_embedding_neardup_lsh_subset_and_recall(spark, emb):
    """LSH candidate path: output is a SUBSET of the exact pairs with
    identical cosines; planted duplicates (cosine 1.0 — always co-bucketed)
    are all recovered; near-threshold natural pairs keep subset semantics."""
    from activedata_etl_spark.operators.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    # plant 500 exact duplicates: identical vectors share every bucket, so
    # LSH recall on them must be 1.0
    planted = emb.select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_lsh(
            corpus, "vec_id", "embedding", threshold=0.99, n_planes=4
        ).collect()
    }
    expect_dups = {(r["vec_id"], r["vec_id"] + 100_000) for r in emb.collect()}
    assert expect_dups <= set(got)
    assert all(c == 1.0 for p, c in got.items() if p in expect_dups)

    # natural near-threshold pairs: subset of exact with identical cosines
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.3, n_blocks=5
        ).collect()
    }
    low = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_lsh(
            emb, "vec_id", "embedding", threshold=0.3, n_planes=4
        ).collect()
    }
    assert low, "LSH found no natural pairs at threshold 0.3"
    assert set(low) <= set(exact)
    assert all(exact[p] == c for p, c in low.items())


def test_embedding_cosine_rounds_half_away_at_midpoint(spark):
    """Both embedding scorers round the cosine half away from zero, as
    the oracles' DuckDB ``round()`` and Spark's ``F.round`` (HALF_UP) do: a
    pair whose cosine times 1e6 is exactly 949998.5 scores 0.949999, so it
    is kept at threshold 0.949999 (``np.round``, half to even, gave
    0.949998 and dropped it)."""
    import math

    import duckdb
    import numpy as np

    from activedata_etl_spark.operators.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    x = 0.9499985
    vecs = [[1.0, 0.0], [x, math.sqrt(1.0 - x * x)]]
    mat = np.array(vecs)
    norms = np.sqrt((mat * mat).sum(axis=1))
    cos = ((mat @ mat.T) / np.outer(norms, norms))[0, 1]
    assert cos * 1e6 == 949998.5  # exactly on the 6th-decimal half
    df = spark.createDataFrame([(1, vecs[0]), (2, vecs[1])],
                               "id long, vec array<double>")
    assert df.select(F.round(F.lit(x), 6)).first()[0] == 0.949999
    assert duckdb.sql(f"select round({x}::DOUBLE, 6)").fetchone()[0] \
        == 0.949999
    for score in (
        lambda t: embedding_neardup_pairs(df, "id", "vec", threshold=t,
                                          n_blocks=2),
        lambda t: embedding_neardup_lsh(df, "id", "vec", threshold=t),
    ):
        assert [tuple(r) for r in score(0.949999).collect()] == [
            (1, 2, 0.949999)]
        assert score(0.9499995).collect() == []

    # string ids pass through both scorers with their type, as
    # lsh_ann_topk's do (the tiles used to force them to int64)
    sdf = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [2.0, 0.0]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>")
    for out in (embedding_neardup_pairs(sdf, "vec_id", "embedding",
                                        threshold=0.9, n_blocks=2),
                embedding_neardup_lsh(sdf, "vec_id", "embedding",
                                      threshold=0.9)):
        assert out.schema["id_a"].dataType == out.schema["id_b"].dataType \
            == T.StringType()
        assert [tuple(r) for r in out.collect()] == [("a", "b", 1.0)]
    empty = embedding_neardup_lsh(sdf.where("false"), "vec_id", "embedding")
    assert empty.schema["id_a"].dataType == T.StringType()
    assert empty.collect() == []


def test_embedding_pair_operators_skip_null_vectors(spark):
    """A corpus where some vectors are null: both pair operators score the
    non-null rows as a brute-force cosine does and leave the null rows out,
    as the oracles do (a NULL cosine fails ``>=``).  They used to stack the
    null into the tile matrix and fail in the worker."""
    import numpy as np

    from activedata_etl_spark.kernels import round6_half_away
    from activedata_etl_spark.operators.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    # scaled copies share every hyperplane sign, so LSH co-buckets each
    # true pair in every table and must equal the brute force exactly
    rows = [(1, [1.0, 0.0, 0.2]), (2, None), (3, [2.0, 0.0, 0.4]),
            (4, [0.0, 1.0, 0.0]), (5, None), (6, [0.0, 3.0, 0.0]),
            (7, [0.5, 0.5, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    live = [(i, v) for i, v in rows if v is not None]
    ids = np.array([i for i, _ in live])
    mat = np.array([v for _, v in live])
    norms = np.sqrt((mat * mat).sum(axis=1))
    sims = round6_half_away((mat @ mat.T) / np.outer(norms, norms))
    ii, jj = np.nonzero((sims >= 0.9) & (ids[:, None] < ids[None, :]))
    expect = {(int(ids[i]), int(ids[j])): sims[i, j] for i, j in zip(ii, jj)}
    assert set(expect) == {(1, 3), (4, 6)}

    for out in (embedding_neardup_pairs(df, "vec_id", "embedding",
                                        threshold=0.9, n_blocks=2),
                embedding_neardup_lsh(df, "vec_id", "embedding",
                                      threshold=0.9)):
        assert {(r["id_a"], r["id_b"]): r["cosine"]
                for r in out.collect()} == expect


def test_lsh_ann_topk_fails_loudly_on_null_vector(spark):
    """A null corpus vector fails ``lsh_ann_topk`` with a ``ValueError``
    that names the operator and the row, not with numpy's "setting an
    array element with a sequence" from inside the worker."""
    from pyspark.errors import PythonException

    from activedata_etl_spark.operators.similarity import lsh_ann_topk

    rows = [(1, [1.0, 0.0, 0.2]), (2, None), (3, [2.0, 0.0, 0.4]),
            (4, [0.0, 1.0, 0.0]), (5, None), (6, [0.0, 3.0, 0.0]),
            (7, [0.5, 0.5, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("embedding").isNotNull())
    with pytest.raises(PythonException, match=r"ValueError: lsh_ann_topk: "
                       r"null vector in 'embedding' at vec_id=[25]\b"):
        lsh_ann_topk(df, q, k=2, n_planes=2).collect()


def test_lsh_operators_run_no_sizing_job(spark, emb, spark_jobs):
    """The LSH operators size their hyperplane weights from the vectors
    inside the bucketing UDF: a collected ``embedding_neardup_lsh`` call
    runs 3 Spark jobs and an ``lsh_ann_topk`` call 10.  Each ran one more,
    a ``first()`` that only read the dimensionality."""
    from activedata_etl_spark.operators.dedup import embedding_neardup_lsh
    from activedata_etl_spark.operators.similarity import lsh_ann_topk

    q = emb.where(F.col("vec_id") < 5)
    assert spark_jobs(lambda: embedding_neardup_lsh(
        emb, "vec_id", "embedding", threshold=0.9).collect()) == 3
    assert spark_jobs(lambda: lsh_ann_topk(
        emb, q, k=3, n_planes=4).collect()) == 10


def test_round6_half_away_matches_duckdb_round():
    """``round6_half_away`` equals DuckDB's ``round(x, 6)`` bit for bit on
    random doubles of both signs and on exact midpoints (x * 1e6 == k +
    0.5, where half-away and half-even rounding differ)."""
    import duckdb
    import numpy as np
    import pandas as pd

    from activedata_etl_spark.kernels import round6_half_away

    rng = np.random.default_rng(7)
    k = rng.integers(-10**6, 10**6, 4000)
    mid = (k + 0.5) / 1e6
    mid = mid[mid * 1e6 == k + 0.5]
    assert len(mid) > 1000
    xs = pd.DataFrame({"x": np.concatenate([
        rng.uniform(-1.0, 1.0, 4000), rng.uniform(-1e3, 1e3, 1000), mid,
        [0.0, -0.0, 1.0, -1.0, 0.5e-6, -0.5e-6, 0.9499985, -0.9499985],
    ])})
    want = duckdb.sql("select round(x, 6) as r from xs").df()["r"].to_numpy()
    got = round6_half_away(xs["x"].to_numpy())
    assert np.array_equal(got, want)
    assert not np.array_equal(np.round(xs["x"].to_numpy(), 6), want)


def test_ivf_ann_recall_vs_exact(spark, emb):
    """IVF coarse quantizer: candidates from probed cells only, recall vs
    exact top-k stays usable; scores are true cosines."""
    from activedata_etl_spark.operators.similarity import cosine_topk, ivf_ann_topk

    q = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, q, k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(emb, q, k=5, n_centroids=8, n_probe=4).collect()
    }
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall:.2f}"
    row = next(iter(ivf_ann_topk(emb, q, k=1, n_centroids=4, n_probe=2).collect()))
    assert -1.0 <= row["score"] <= 1.0


def test_ivf_seed_rows_quantizer(spark, emb):
    """centroids="seed_rows" (random-subsample quantizer, the SQL-oracle
    mode): deterministic across runs, recall stays usable, and every score
    is a true cosine of the claimed pair."""
    from activedata_etl_spark.operators.similarity import cosine_topk, ivf_ann_topk

    q = emb.where(F.col("vec_id") < 10)
    kw = dict(k=5, n_centroids=8, n_probe=4, centroids="seed_rows")
    got = {(r["query_id"], r["neighbor_id"], r["score"])
           for r in ivf_ann_topk(emb, q, **kw).collect()}
    again = {(r["query_id"], r["neighbor_id"], r["score"])
             for r in ivf_ann_topk(emb, q, **kw).collect()}
    assert got == again and got
    exact = {(r["query_id"], r["neighbor_id"], r["score"])
             for r in cosine_topk(emb, q, k=50).collect()}
    # every reported (pair, score) is a true cosine from the exact list
    assert {g for g in got} <= exact
    pairs = {(a, b) for a, b, _ in got}
    top5 = {(r["query_id"], r["neighbor_id"])
            for r in cosine_topk(emb, q, k=5).collect()}
    recall = len(pairs & top5) / len(top5)
    assert recall >= 0.4, f"seed-rows IVF recall {recall:.2f}"


def test_multimodal_resize_and_frame_sampling(spark, docs):
    from activedata_etl_spark.multimodal import (
        media_from_documents,
        resize_media,
        sample_frames,
    )

    media = media_from_documents(docs.limit(30))
    rs = resize_media(media, width=224, height=224).collect()
    assert len(rs) == 30
    assert all(r["width"] == 224 and len(r["payload"]) == 32 for r in rs)
    # determinism
    again = {r["media_id"]: r["payload"] for r in resize_media(media, width=224, height=224).collect()}
    assert all(again[r["media_id"]] == r["payload"] for r in rs)

    frames = sample_frames(media, every_ms=500, max_frames=4).collect()
    vids = {r["media_id"] for r in media.where("kind = 'video'").collect()}
    assert {f["media_id"] for f in frames} <= vids
    assert all(f["frame_idx"] < 4 for f in frames)
    per = {}
    for f in frames:
        per.setdefault(f["media_id"], []).append(f)
    for mid, fs in per.items():
        assert [x["frame_idx"] for x in sorted(fs, key=lambda x: x["frame_idx"])] == list(range(len(fs)))


def test_jaccard_stop_shingle_cap_prunes(spark):
    """The frequency cap removes hot shingles from candidate generation:
    docs that only share a stop-shingle stop pairing once it exceeds the
    cap (web-scale skew guard)."""
    from activedata_etl_spark.operators.dedup import ngram_jaccard_pairs

    stop = "the quick brown"          # one shared 3-gram across ALL docs
    rows = [(i, f"{stop} unique{i} words{i} here{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1).collect()
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.1, max_shingle_freq=3
    ).collect()
    assert len(uncapped) == 15        # all pairs share the stop shingle
    assert len(capped) == 0           # cap kills the hot join key


def test_near_dup_clusters_connected_components(spark):
    """Min-label propagation finds components incl. a CHAIN (transitive
    closure, not just direct pairs) and leaves singletons out."""
    from activedata_etl_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a chain; component {10,11}; 20-21-22 star
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_simhash_candidates_stay_subquadratic(spark):
    """Block-permutation banding: on a random (non-dup) corpus the candidate
    volume must stay O(n * bands), NOT the ~9*n^2/256 blowup of the naive
    h+1-chunk layout at max_hamming=8 (7-bit keys / 128 buckets)."""
    from activedata_etl_spark.operators.dedup import (
        _simhash_band_plan,
        _simhash_candidates,
    )

    starts, combos = _simhash_band_plan(8)
    assert len(starts) - 1 == 10 and len(combos) == 45  # B=10, C(10,8) bands
    # every band key carries two blocks (12-14 bits vs the naive 7)
    assert all(len(cb) == 2 for cb in combos)

    n = 6000
    sig = spark.range(n).select(
        "id",
        F.xxhash64("id").bitwiseAND(F.lit((1 << 63) - 1)).alias("simhash"),
    )
    c = _simhash_candidates(sig, max_hamming=8).count()
    assert c <= n * len(combos), f"{c} candidates: not O(n*bands)"
    # the old 9-chunk layout expects ~9*n^2/(2*128) random collisions
    assert c < 9 * n * n // (2 * 128), f"{c}: quadratic blowup"


def test_simhash_hamming1_matches_brute_force(spark):
    """At max_hamming=1 the band plan caps B at 12 blocks (a 4096-entry
    canonical-band table, not 65,536) and recall stays exact: the pairs
    equal a brute-force Hamming scan, over near-copy documents and over
    signatures with a single flipped bit at every position."""
    from itertools import combinations

    from activedata_etl_spark.operators.dedup import (
        _simhash_band_plan,
        simhash,
        simhash_pairs,
        simhash_pairs_from_sigs,
    )

    starts, combos = _simhash_band_plan(1)
    assert len(starts) - 1 == 12 and len(combos) == 12

    def brute(sigs):
        return {(a, b): bin(sigs[a] ^ sigs[b]).count("1")
                for a, b in combinations(sorted(sigs), 2)
                if bin(sigs[a] ^ sigs[b]).count("1") <= 1}

    base = " ".join(f"tok{i}" for i in range(300))
    df = spark.createDataFrame(
        [(i, base + f" extra{i}" * (i % 3)) for i in range(60)],
        "doc_id long, text string")
    sigs = {r["id"]: r["simhash"]
            for r in simhash(df, "doc_id", "text").collect()}
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(
        df, "doc_id", "text", max_hamming=1, max_band_freq=None).collect()}
    want = brute(sigs)
    assert 1 in want.values() and got == want

    seed = 0x2F0F3C5A96E1B47
    flips = {1 + k: seed ^ (1 << k) for k in range(63)}
    flips.update({0: seed, 100: seed ^ 0b11})  # hamming 2 to the seed
    sig = spark.createDataFrame(list(flips.items()), "id long, simhash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs_from_sigs(sig, max_hamming=1).collect()}
    assert got == brute(flips) and len(got) == 63 + 2


def test_simhash_band_freq_cap(spark):
    """Adversarial corpus (one signature floods every bucket): the frequency
    cap bounds candidates, uncapped is quadratic — the stop-shingle
    discipline applied to simhash banding."""
    from activedata_etl_spark.operators.dedup import _simhash_candidates

    sig = spark.range(200).select(
        "id", F.lit(0x123456789AB).cast("long").alias("simhash")
    )
    assert _simhash_candidates(sig, max_hamming=8, max_band_freq=10).count() == 0
    assert _simhash_candidates(sig, max_hamming=8).count() == 200 * 199 // 2


def test_simhash_pairs_default_cap_engages(spark):
    """The pipeline entry point defaults the hot-bucket cap ON: a flood of
    identical documents larger than SIMHASH_MAX_BAND_FREQ generates zero
    candidates by default, while max_band_freq=None (the oracle-exact
    registry spelling) returns the full quadratic pair set."""
    from activedata_etl_spark.operators.dedup import (
        SIMHASH_MAX_BAND_FREQ,
        simhash_pairs,
    )

    n = SIMHASH_MAX_BAND_FREQ + 50
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate flood text " * 4).alias("text"),
    )
    assert simhash_pairs(df, "doc_id", "text").count() == 0
    assert (
        simhash_pairs(df, "doc_id", "text", max_band_freq=None).count()
        == n * (n - 1) // 2
    )


def test_near_dup_clusters_raises_on_non_convergence(spark):
    """Exiting at max_iter with labels still moving = silently-wrong cluster
    ids (chain deeper than the round budget) — must fail loudly."""
    from activedata_etl_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(chain, max_iter=1)
    got = {r["id"]: r["cluster_id"] for r in near_dup_clusters(chain).collect()}
    assert set(got.values()) == {0}


def test_short_docs_have_no_shingles(spark):
    """Docs with fewer than n tokens produce an EMPTY shingle set (matching
    the oracle's generate_series guard) — not a descending [1,0] sequence
    whose element_at(toks, 0) throws under ANSI mode."""
    from activedata_etl_spark.operators.dedup import minhash_lsh_pairs, shingled

    df = spark.createDataFrame(
        [(1, "only two"), (2, "one"), (3, ""),
         (4, "three whole tokens here"), (5, "three whole tokens here")],
        "doc_id long, text string",
    )
    sh = {r["id"]: r["sh"] for r in shingled(df, "doc_id", "text").collect()}
    # shingled drops shingle-less docs (where size > 0) instead of crashing
    assert set(sh) == {4, 5} and len(sh[4]) == 2
    # the full pipeline survives short docs and still pairs the real dups
    out = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(4, 5)}


def test_ivf_seed_rows_large_ids_no_overflow(spark, emb):
    """seed-row centroid hashing reduces id mod P before multiplying —
    snowflake-scale ids must not overflow int64 under ANSI mode."""
    from activedata_etl_spark.operators.similarity import ivf_ann_topk

    big = emb.select(
        (F.col("vec_id") + F.lit(1 << 40).cast("long")).alias("vec_id"),
        "embedding",
    )
    q = big.where(F.col("vec_id") < (1 << 40) + 5)
    out = ivf_ann_topk(big, q, k=3, n_centroids=4, n_probe=2,
                       centroids="seed_rows").collect()
    assert out and all(r["neighbor_id"] >= (1 << 40) for r in out)


def test_near_dup_clusters_log_rounds_on_deep_chain(spark):
    """Pointer jumping: a 200-node path component (diameter 199) must
    converge within O(log n) rounds — label reach grows as 2^(k+1)-1 per
    round k, so 9 rounds suffice where plain propagation needs ~200."""
    from activedata_etl_spark.operators.dedup import near_dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in near_dup_clusters(chain, max_iter=9).collect()
    }
    assert len(got) == 200 and set(got.values()) == {0}


def test_ivf_train_fraction_guard(spark, emb):
    """KMeans training is capped at ~max_train rows by default — full-corpus
    training would pay max_iter full scans at 10^8 vectors."""
    from activedata_etl_spark.operators import similarity as S

    assert S._train_fraction(1_000, 100_000) == 1.0
    assert S._train_fraction(10_000_000, 100_000) == pytest.approx(0.01)
    # the sampled path still trains and answers (determinism via seed)
    q = emb.where(F.col("vec_id") < 3)
    out = S.ivf_ann_topk(emb, q, k=3, n_centroids=4, n_probe=2, max_train=40)
    rows = out.collect()
    assert len(rows) > 0
    assert {r["query_id"] for r in rows} <= {0, 1, 2}


def test_ivf_sizing_needs_no_count_job(spark, emb, monkeypatch):
    """Training-fraction sizing must not pay a full-scan count() job for a
    parquet-backed corpus: the row count comes from the file footers
    (driver-side metadata) or an explicit n_rows hint."""
    from activedata_etl_spark.operators import similarity as S

    # footer hint is exact for a parquet-backed frame
    n = S._row_count_hint(emb)
    assert n == emb.count()
    # ...and survives projections on top of the scan
    assert S._row_count_hint(emb.select("vec_id", "embedding")) == n
    # non-file-backed frames opt out
    assert S._row_count_hint(spark.range(10).toDF("x")) is None

    # the kmeans path must not call DataFrame.count while sizing
    from pyspark.sql import DataFrame as _DF

    def boom(self):
        raise AssertionError("ivf sizing triggered a count() job")

    q = emb.where(F.col("vec_id") < 3)
    monkeypatch.setattr(_DF, "count", boom)
    out = S.ivf_ann_topk(emb, q, k=3, n_centroids=4, n_probe=2, max_train=40)
    rows = out.collect()
    monkeypatch.undo()
    assert rows and {r["query_id"] for r in rows} <= {0, 1, 2}

    # explicit hint path: same answer, no footer walk needed
    out2 = S.ivf_ann_topk(
        emb, q, k=3, n_centroids=4, n_probe=2, max_train=40, n_rows=n
    )
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, rows))


def test_ivf_blas_path_matches_catalyst_path(spark, emb):
    """Past the literal threshold the IVF assignment switches to the Arrow
    BLAS kernel — both paths must produce identical results for the same
    trained model (same centroids, same argmin)."""
    from activedata_etl_spark.operators import similarity as S

    q = emb.where(F.col("vec_id") < 5)
    cat = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in S.ivf_ann_topk(emb, q, k=3, n_centroids=8, n_probe=3).collect()}
    bl = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in S.ivf_ann_topk(emb, q, k=3, n_centroids=8, n_probe=3,
                                  _force_blas=True).collect()}
    assert bl == cat and len(bl) > 0


def test_split_assign_deterministic_and_proportional(spark):
    from activedata_etl_spark.operators.sampling import split_assign

    df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    a = split_assign(df, "doc_id", w).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20_000 - 0.9) < 0.02
    assert abs(counts["val"] / 20_000 - 0.05) < 0.01
    # stable under repartitioning and reruns: same id -> same split
    b = split_assign(df.repartition(7), "doc_id", w)
    from pyspark.sql import functions as F
    joined = (
        split_assign(df, "doc_id", w).alias("x")
        .join(b.alias("y"), "doc_id")
        .where(F.col("x.split") != F.col("y.split"))
    )
    assert joined.count() == 0


def test_contamination_pairs_finds_injected_leak(spark):
    from activedata_etl_spark.operators.sampling import contamination_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"unrelated text number {i} with totally distinct words "
                f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(1, 40)]
    rows.append((100, base))                       # train copy
    rows.append((200, base + " exactly"))          # near-identical test doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    test = df.where("doc_id >= 200")
    train = df.where("doc_id < 200")
    got = contamination_pairs(
        train, test, "doc_id", "text", threshold=0.5
    ).collect()
    assert [(r["test_id"], r["train_id"]) for r in got] == [(200, 100)]
    assert got[0]["jaccard"] > 0.8
    # disjoint corpora: no pairs, no crash
    none = contamination_pairs(
        train.where("doc_id < 10"), test, "doc_id", "text", threshold=0.5
    )
    assert none.count() == 0


def test_quota_sample_nested_and_deterministic(spark):
    """Keep decision is a pure (id, group) function: rates hit within
    tolerance, lower-rate samples nest inside higher-rate ones, groups
    absent from the rates dict ride default_rate."""
    from activedata_etl_spark.operators.sampling import quota_sample

    df = (
        spark.range(0, 30_000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 3 == 0, "en")
            .when(F.col("doc_id") % 3 == 1, "de")
            .otherwise("fr"),
        )
    )
    kept = quota_sample(df, "lang", {"en": 0.2, "de": 0.5}, "doc_id")
    counts = {r["lang"]: r["count"]
              for r in kept.groupBy("lang").count().collect()}
    assert abs(counts["en"] / 10_000 - 0.2) < 0.02
    assert abs(counts["de"] / 10_000 - 0.5) < 0.02
    assert counts["fr"] == 10_000  # default_rate=1.0 keeps everything
    # nested: the 0.2-en sample is a subset of the 0.5-en sample
    small = {r["doc_id"] for r in quota_sample(
        df, "lang", {"en": 0.2}, "doc_id").where("lang = 'en'").collect()}
    big = {r["doc_id"] for r in quota_sample(
        df, "lang", {"en": 0.5}, "doc_id").where("lang = 'en'").collect()}
    assert small <= big
    # default_rate applies to unlisted groups
    half = quota_sample(df, "lang", {}, "doc_id", default_rate=0.5)
    assert abs(half.count() / 30_000 - 0.5) < 0.02
    with pytest.raises(ValueError):
        quota_sample(df, "lang", {"en": 1.5}, "doc_id")


def test_pack_sequences_matches_greedy_reference(spark):
    """Pack assignment equals a per-shard greedy python fold; offsets stay
    inside the budget grid; null token counts pack as zero-length docs."""
    from activedata_etl_spark.operators.sampling import pack_sequences

    rows = [(i, (i * 37) % 900 + 10) for i in range(400)]
    rows.append((400, None))  # null token count must not poison the shard
    df = spark.createDataFrame(rows, "doc_id long, toks int")
    budget, shards = 1000, 4
    out = pack_sequences(df, "doc_id", "toks", budget, n_shards=shards)
    got = {r["doc_id"]: (r["shard"], r["pack_id"], r["pack_pos"],
                         r["tok_offset"]) for r in out.collect()}
    assert len(got) == 401
    # python referee: same shard hash, same greedy cumulative fold
    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts

    ((a, c),) = mix_consts(303, 1)
    by_shard = {}
    for i, t in rows:
        by_shard.setdefault(((i % MIX_P) * a + c) % MIX_P % shards, []).append(
            (i, t or 0))
    for shard, docs in by_shard.items():
        cum = 0
        pos_in_pack = {}
        for i, t in sorted(docs):
            pack = cum // budget
            pos = pos_in_pack.get(pack, 0)
            pos_in_pack[pack] = pos + 1
            assert got[i] == (shard, pack, pos, cum - pack * budget), i
            cum += t
    # every doc starts strictly inside its pack's budget window
    assert out.where(
        (F.col("tok_offset") < 0) | (F.col("tok_offset") >= budget)
    ).count() == 0
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "toks", 0)


def test_incremental_dedup_exact_and_near(spark):
    """Batch-vs-corpus dedup: exact stage drops corpus copies and
    within-batch copies (first id wins); near stage additionally drops
    near-dups of corpus docs and of smaller-id batch docs; novel docs
    survive with original columns/order.  Works for string ids too."""
    from activedata_etl_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different corpus text alpha beta gamma delta")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "the quick brown fox jumps over the lazy dog tonight ok"),
         (12, "entirely novel text about spark catalyst optimizer plans"),
         (13, "entirely novel text about spark catalyst optimizer plans"),
         (14, "entirely novel text about spark catalyst optimizer plans z"),
         (15, "another unique document with its own words zeta eta theta")],
        "doc_id long, text string")
    ex = incremental_dedup(corpus, batch, "doc_id", "text")
    assert sorted(r["doc_id"] for r in ex.collect()) == [11, 12, 14, 15]
    nr = incremental_dedup(corpus, batch, "doc_id", "text", near=True,
                           threshold=0.5)
    assert sorted(r["doc_id"] for r in nr.collect()) == [12, 15]
    assert nr.columns == batch.columns
    # string ids: content decides, ids only break ties (smaller id wins)
    sc = corpus.select(F.concat(F.lit("c-"), "doc_id").alias("doc_id"), "text")
    sb = batch.select(F.concat(F.lit("b-"), "doc_id").alias("doc_id"), "text")
    got = incremental_dedup(sc, sb, "doc_id", "text", near=True,
                            threshold=0.5).collect()
    assert sorted(r["doc_id"] for r in got) == ["b-12", "b-15"]
    # idempotent: appending the survivors then re-running the same batch
    # drops everything (the incremental invariant)
    grown = corpus.unionByName(nr)
    again = incremental_dedup(grown, batch, "doc_id", "text", near=True,
                              threshold=0.5)
    assert again.count() == 0


def test_sampling_string_ids_parity_and_guard(spark):
    """String/UUID ids route through a hash residue: proportions and the
    nesting property match the numeric path; the sha mode matches an
    independent hashlib referee (the DuckDB-oracle arithmetic); non-id
    dtypes and a forced-numeric string id fail LOUDLY (never the silent
    ANSI-off null-cast mis-assignment)."""
    import hashlib

    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts
    from activedata_etl_spark.operators.sampling import (
        quota_sample,
        split_assign,
    )

    n = 20_000
    df = (
        spark.range(0, n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc-"), F.col("id").cast("string"))
            .alias("doc_key"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        )
    )
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    for mode in ("auto", "sha"):
        counts = {
            r["split"]: r["count"]
            for r in split_assign(df, "doc_key", w, id_hash=mode)
            .groupBy("split").count().collect()
        }
        assert abs(counts["train"] / n - 0.9) < 0.02, mode
        assert abs(counts["val"] / n - 0.05) < 0.01, mode
    # sha mode == independent hashlib referee (the oracle arithmetic)
    ((a, c),) = mix_consts(101, 1)
    cut1, cut2 = int(0.9 * MIX_P), int(0.95 * MIX_P)
    got = {
        r["doc_key"]: r["split"]
        for r in split_assign(df, "doc_key", w, id_hash="sha")
        .select("doc_key", "split").collect()
    }
    for k in ("doc-0", "doc-7", "doc-1234", "doc-19999"):
        res = int(hashlib.sha256(k.encode()).hexdigest()[:15], 16) % MIX_P
        u = (res * a + c) % MIX_P
        want = "train" if u < cut1 else ("val" if u < cut2 else "test")
        assert got[k] == want, k
    # stable under repartitioning (pure function of the id)
    rep = split_assign(df.repartition(7), "doc_key", w)
    drift = (
        split_assign(df, "doc_key", w).alias("x")
        .join(rep.alias("y"), "doc_key")
        .where(F.col("x.split") != F.col("y.split"))
    )
    assert drift.count() == 0
    # nesting survives the string path
    small = {r["doc_key"] for r in quota_sample(
        df, "lang", {"en": 0.2}, "doc_key").where("lang = 'en'").collect()}
    big = {r["doc_key"] for r in quota_sample(
        df, "lang", {"en": 0.5}, "doc_key").where("lang = 'en'").collect()}
    assert small <= big and len(small) > 0
    assert abs(len(big) / (n / 2) - 0.5) < 0.03
    # guards: float ids refused, numeric mode refused on strings
    bad = df.withColumn("fid", F.col("doc_id").cast("double"))
    with pytest.raises(TypeError):
        split_assign(bad, "fid", w)
    with pytest.raises(TypeError):
        split_assign(df, "doc_key", w, id_hash="numeric")
    with pytest.raises(ValueError):
        split_assign(df, "nope", w)
    with pytest.raises(ValueError):
        split_assign(df, "doc_key", w, id_hash="md5")


def test_stratified_sample_k_exact_nested_stable(spark):
    """Exactly min(k, |group|) rows per group; the k'<k sample is a PREFIX
    of the k sample (nesting); membership survives repartitioning; string
    ids work; small groups return whole."""
    from activedata_etl_spark.operators.sampling import stratified_sample_k

    df = (
        spark.range(0, 9000)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 3 == 0, "en")
            .when(F.col("id") % 3 == 1, "de")
            .otherwise("fr").alias("lang"),
        )
        # a tiny group: fewer rows than k
        .unionByName(spark.createDataFrame(
            [(100001, "eo"), (100002, "eo")], "doc_id long, lang string"))
    )
    s30 = stratified_sample_k(df, "lang", 30, "doc_id")
    counts = {r["lang"]: r["count"]
              for r in s30.groupBy("lang").count().collect()}
    assert counts == {"en": 30, "de": 30, "fr": 30, "eo": 2}
    assert s30.where("sample_rank >= 30 or sample_rank < 0").count() == 0
    # nesting: k=10 is the rank-prefix of k=30
    s10 = {(r["doc_id"]) for r in stratified_sample_k(
        df, "lang", 10, "doc_id").collect()}
    prefix = {(r["doc_id"]) for r in s30.where("sample_rank < 10").collect()}
    assert s10 == prefix
    # stability under layout changes
    s30b = {r["doc_id"] for r in stratified_sample_k(
        df.repartition(13), "lang", 30, "doc_id").collect()}
    assert s30b == {r["doc_id"] for r in s30.collect()}
    # string ids route through the hash layer
    sdf = df.select(F.concat(F.lit("d-"), "doc_id").alias("doc_id"), "lang")
    st = stratified_sample_k(sdf, "lang", 30, "doc_id")
    assert st.groupBy("lang").count().where("count > 30").count() == 0
    with pytest.raises(ValueError):
        stratified_sample_k(df, "lang", 0, "doc_id")


def test_interleave_sources_rates_and_exhaustion(spark):
    """mix_key orders a weighted without-replacement mix: a prefix of the
    sorted stream consumes source s at ~weight_s x the base rate until
    exhausted; weight 0 drops the source; each source spreads uniformly
    (no long runs); deterministic under repartitioning."""
    from activedata_etl_spark.operators.sampling import interleave_sources

    n = 30_000
    df = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "wiki")
        .when(F.col("id") % 3 == 1, "web")
        .otherwise("junk").alias("source"),
    )
    out = interleave_sources(
        df, "source", {"wiki": 3.0, "junk": 0.0}, "doc_id")
    rows = out.select("doc_id", "source", "mix_key").collect()
    assert {r["source"] for r in rows} == {"wiki", "web"}  # junk dropped
    ordered = sorted(rows, key=lambda r: (r["mix_key"], r["doc_id"]))
    # early prefix: wiki consumed ~3x the web rate -> ~75% wiki
    head = ordered[:2000]
    frac = sum(1 for r in head if r["source"] == "wiki") / len(head)
    assert 0.70 < frac < 0.80, frac
    # after wiki exhausts (keys > 1/3 are web-only), the tail is pure web
    tail = ordered[-2000:]
    assert all(r["source"] == "web" for r in tail)
    # deterministic: same keys under a different layout
    again = {(r["doc_id"], r["mix_key"]) for r in interleave_sources(
        df.repartition(7), "source", {"wiki": 3.0, "junk": 0.0},
        "doc_id").collect()}
    assert again == {(r["doc_id"], r["mix_key"]) for r in rows}
    with pytest.raises(ValueError):
        interleave_sources(df, "source", {"wiki": -1.0}, "doc_id")


def test_pack_sequences_string_ids_greedy_parity(spark):
    """pack_sequences over string ids equals the python greedy fold with
    sha-residue sharding and lexicographic within-shard order."""
    import hashlib

    from activedata_etl_spark.operators.dedup import MIX_P, mix_consts
    from activedata_etl_spark.operators.sampling import pack_sequences

    rows = [(f"doc-{i}", (i * 37) % 900 + 10) for i in range(400)]
    rows.append(("doc-x-null", None))
    df = spark.createDataFrame(rows, "doc_key string, toks int")
    budget, shards = 1000, 4
    out = pack_sequences(df, "doc_key", "toks", budget, n_shards=shards,
                         id_hash="sha")
    got = {r["doc_key"]: (r["shard"], r["pack_id"], r["pack_pos"],
                          r["tok_offset"]) for r in out.collect()}
    assert len(got) == 401
    ((a, c),) = mix_consts(303, 1)
    by_shard = {}
    for k, t in rows:
        res = int(hashlib.sha256(k.encode()).hexdigest()[:15], 16) % MIX_P
        by_shard.setdefault((res * a + c) % MIX_P % shards, []).append(
            (k, t or 0))
    for shard, docs in by_shard.items():
        cum = 0
        pos_in_pack = {}
        for k, t in sorted(docs):  # lexicographic == Spark UTF8 binary
            pack = cum // budget
            pos = pos_in_pack.get(pack, 0)
            pos_in_pack[pack] = pos + 1
            assert got[k] == (shard, pack, pos, cum - pack * budget), k
            cum += t


def test_contamination_pairs_string_ids(spark):
    """contamination_pairs and the jaccard shingle machinery accept string
    ids end-to-end (they hash CONTENT, not ids — this pins the property)."""
    from activedata_etl_spark.operators.sampling import contamination_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(f"tr-{i}", f"unrelated text number {i} with distinct words "
             f"alpha{i} beta{i} gamma{i} delta{i}") for i in range(1, 40)]
    rows.append(("tr-leak", base))
    test_rows = [("te-dup", base + " exactly"), ("te-clean", "nothing here")]
    train = spark.createDataFrame(rows, "doc_id string, text string")
    test = spark.createDataFrame(test_rows, "doc_id string, text string")
    got = contamination_pairs(
        train, test, "doc_id", "text", threshold=0.5
    ).collect()
    assert [(r["test_id"], r["train_id"]) for r in got] == [("te-dup", "tr-leak")]
    assert got[0]["jaccard"] > 0.8


def test_pii_scrub_redacts_and_counts(spark):
    from activedata_etl_spark.functions.text import pii_counts, pii_scrub

    rows = [
        (1, "mail me at jane.doe+x@corp.example.co.uk or call 555 123 4567"),
        (2, "server 192.168.0.1 and card 4111-1111-1111-1111 leaked"),
        (3, "clean text with a short number 1234 and v2.0 markers"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    n_e, n_i, n_n = pii_counts(F.col("t"))
    got = {r["id"]: (r["s"], r["e"], r["i"], r["n"]) for r in df.select(
        "id", pii_scrub(F.col("t")).alias("s"),
        n_e.alias("e"), n_i.alias("i"), n_n.alias("n")).collect()}
    assert got[1] == ("mail me at <EMAIL> or call <NUM>", 1, 0, 1)
    assert got[2] == ("server <IP> and card <NUM> leaked", 0, 1, 1)
    # short digit runs and version strings survive
    assert got[3] == (rows[2][1], 0, 0, 0)


def test_dedup_paragraphs_first_occurrence_order(spark):
    from activedata_etl_spark.functions.text import (
        dedup_paragraphs,
        paragraph_counts,
    )

    rows = [
        (1, "alpha\n\nbeta\n\nalpha\n\ngamma\n\nbeta"),
        (2, "only one paragraph"),
        (3, "x\n\nx\n\nx"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    n, u = paragraph_counts(F.col("t"))
    got = {r["id"]: (r["c"], r["n"], r["u"]) for r in df.select(
        "id", dedup_paragraphs(F.col("t")).alias("c"),
        n.alias("n"), u.alias("u")).collect()}
    # first occurrences kept, in order
    assert got[1] == ("alpha\n\nbeta\n\ngamma", 5, 3)
    assert got[2] == ("only one paragraph", 1, 1)
    assert got[3] == ("x", 3, 1)


def test_chunk_text_boundaries_and_pack_composition(spark):
    from activedata_etl_spark.functions.text import chunk_text
    from activedata_etl_spark.operators.sampling import pack_sequences

    rows = [(1, "a" * 10), (2, "b" * 11), (3, "c" * 9), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: r["ch"] for r in df.select(
        "id", chunk_text(F.col("t"), 5).alias("ch")).collect()}
    assert got[1] == ["a" * 5, "a" * 5]          # exact multiple
    assert got[2] == ["b" * 5, "b" * 5, "b"]     # remainder chunk
    assert got[3] == ["c" * 5, "c" * 4]
    assert got[4] == [] and got[5] == []          # empty/null -> empty array
    with pytest.raises(ValueError):
        chunk_text(F.col("t"), 0)

    # composition: chunk long docs, then pack the chunks — every pack item
    # is budget-bounded, so packs never overflow by more than one chunk
    docs = spark.createDataFrame(
        [(i, "x" * (i * 97 % 1500 + 1)) for i in range(1, 60)],
        "doc_id long, text string")
    chunks = (
        docs.where(F.length("text") > 0)
        .select("doc_id", F.posexplode_outer(
            chunk_text(F.col("text"), 256)).alias("ci", "chunk"))
        .select(
            (F.col("doc_id") * 1000 + F.col("ci")).alias("chunk_id"),
            F.length("chunk").alias("toks"),
        )
    )
    packed = pack_sequences(chunks, "chunk_id", "toks", 256, n_shards=4)
    # pack-where-it-starts semantics: a pack overflows by at most ONE item,
    # so with chunk size <= budget every pack total is < 2*budget, and
    # every item starts strictly inside its pack's window
    over = (
        packed.groupBy("shard", "pack_id")
        .agg(F.sum("toks").alias("s"))
        .where(F.col("s") >= 2 * 256)
    )
    assert over.count() == 0
    assert packed.where(
        (F.col("tok_offset") < 0) | (F.col("tok_offset") >= 256)
    ).count() == 0


def test_asof_join_backward_semantics_and_ties(spark):
    """Backward as-of: greatest build time <= probe time; equal timestamps
    match (non-strict); equal-time ties break toward the greatest
    tiebreak; probes before any build get nulls."""
    from activedata_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 5), (3, "k", 4), (4, "z", 7), (5, "k", 2)],
        "pid long, k string, t long",
    )
    right = spark.createDataFrame(
        # two builds at t=5 for key k: tiebreak must pick seq=21
        [("k", 3, 20, "a"), ("k", 5, 21, "b"), ("k", 5, 19, "c"),
         ("k", 8, 22, "d"), ("z", 9, 23, "e")],
        "k string, t long, seq long, payload string",
    )
    out = {
        r["pid"]: (r["t_asof"], r["payload_asof"])
        for r in asof_join(
            left, right, on="k", left_time="t",
            right_cols=["payload"], tiebreak="seq",
        ).collect()
    }
    assert out[1] == (8, "d")       # latest at-or-before 10
    assert out[2] == (5, "b")       # tie at t=5 -> max seq wins
    assert out[3] == (3, "a")
    assert out[4] == (None, None)   # z's only build is at t=9 > 7
    assert out[5] == (None, None)   # before k's earliest build (t=3)


def test_asof_join_forward_tolerance_and_null_times(spark):
    from activedata_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 100), (3, "k", None)],
        "pid long, k string, t long",
    )
    right = spark.createDataFrame(
        [("k", 12, "near"), ("k", 180, "far"), ("k", None, "nullt")],
        "k string, t long, payload string",
    )
    fwd = {
        r["pid"]: r["payload_asof"]
        for r in asof_join(
            left, right, on="k", left_time="t", direction="forward",
            right_cols=["payload"],
        ).collect()
    }
    assert fwd == {1: "near", 2: "far", 3: None}
    # tolerance nulls the distant match; null-time build rows are dropped
    tol = {
        r["pid"]: r["payload_asof"]
        for r in asof_join(
            left, right, on="k", left_time="t", direction="forward",
            right_cols=["payload"], tolerance=50,
        ).collect()
    }
    assert tol == {1: "near", 2: None, 3: None}


def test_asof_join_column_clash_raises(spark):
    from activedata_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, "k", 10, "x")],
                                 "pid long, k string, t long, v_asof string")
    right = spark.createDataFrame([("k", 5, "y")],
                                  "k string, t long, v string")
    with pytest.raises(ValueError, match="clash"):
        asof_join(left, right, on="k", left_time="t", right_cols=["v"])


def test_asof_join_single_shuffle_plan(spark):
    """The whole operator is ONE exchange (hash by key) + one sort — the
    scale contract: no range-join explosion, no second shuffle."""
    from activedata_etl_spark.operators.temporal import asof_join

    left = spark.range(100).select(
        F.col("id").alias("pid"), (F.col("id") % 7).alias("k"),
        (F.col("id") * 3).alias("t"))
    right = spark.range(50).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 5).alias("t"),
        F.col("id").alias("v"))
    plan = asof_join(
        left, right, on="k", left_time="t", right_cols=["v"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_scrub_common_segments_positions_and_edges(spark):
    """Common segments vanish, survivors keep order; all-common docs come
    back '', null text stays null, n_removed accounts exactly."""
    from activedata_etl_spark.operators.corpus import scrub_common_segments

    rows = [
        (1, "HEADER\n\nalpha\n\nFOOTER"),
        (2, "HEADER\n\nbeta\n\nFOOTER"),
        (3, "HEADER\n\nFOOTER"),
        (4, "gamma\n\ndelta"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["scrubbed"], r["n_removed"])
        for r in scrub_common_segments(
            df, "doc_id", "text", min_docs=3
        ).collect()
    }
    assert out[1] == ("alpha", 2)
    assert out[2] == ("beta", 2)
    assert out[3] == ("", 2)        # emptied, never dropped
    assert out[4] == ("gamma\n\ndelta", 0)
    assert out[5] == (None, None)
    with pytest.raises(ValueError, match="min_docs"):
        scrub_common_segments(df, "doc_id", "text", min_docs=1)


def test_scrub_common_segments_literal_separator(spark):
    """sep is literal, not regex: '.' must split on dots only."""
    from activedata_etl_spark.operators.corpus import scrub_common_segments

    df = spark.createDataFrame(
        [(1, "ab.cd"), (2, "ab.xy")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["scrubbed"]
        for r in scrub_common_segments(
            df, "doc_id", "text", sep=".", min_docs=2
        ).collect()
    }
    assert out == {1: "cd", 2: "xy"}


def test_ngram_topk_counts_doc_frequency_not_occurrences(spark):
    from activedata_etl_spark.operators.corpus import ngram_topk

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),   # trigram 'a b c' repeats IN-doc
         (2, "a b c x y z"),
         (3, "x y z q r s")],
        "doc_id long, text string",
    )
    rows = ngram_topk(df, "doc_id", "text", n=3, k=2).collect()
    top = {r["shingle"]: r["n_docs"] for r in rows}
    # doc frequency: 'a b c' in docs {1,2} = 2, 'x y z' in {2,3} = 2 —
    # in-doc repetition must NOT inflate the count
    assert top == {"a b c": 2, "x y z": 2}
    # deterministic tie order: n_docs desc, shingle asc
    assert [r["shingle"] for r in rows] == ["a b c", "x y z"]


def test_sessionize_gap_semantics(spark):
    """New session iff time since previous row EXCEEDS the gap (exactly
    gap extends); numeric time columns use plain units; session ids are
    1-based per key; nulls join the first session."""
    from activedata_etl_spark.operators.temporal import sessionize

    rows = [
        ("u", 0, 1), ("u", 10, 2), ("u", 20, 3),     # gap=10: all chained
        ("u", 31, 4),                                 # 11 > 10 -> new
        ("v", 5, 5), ("v", 100, 6), ("v", None, 7),
    ]
    df = spark.createDataFrame(rows, "k string, t long, eid long")
    out = {
        r["eid"]: r["session_id"]
        for r in sessionize(df, "k", "t", 10, order_cols=["eid"]).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 2
    # null-t row 7 sorts first and joins v's FIRST session, and the first
    # REAL row does not start a fresh one (ADVICE r5: only row_number()==1
    # or an exceeded gap opens a session — lag() is null both for "no
    # previous row" and "previous row had null time")
    assert out[7] == 1 and out[5] == 1 and out[6] == 2
    with pytest.raises(ValueError, match="already exists"):
        sessionize(df.withColumnRenamed("eid", "session_id"), "k", "t", 10)


def test_sessionize_single_shuffle_plan(spark):
    """lag + running sum must share one exchange+sort (scale contract)."""
    from activedata_etl_spark.operators.temporal import sessionize

    df = spark.range(1000).select(
        (F.col("id") % 13).alias("k"), (F.col("id") * 7 % 997).alias("t"),
        F.col("id").alias("eid"))
    plan = sessionize(df, "k", "t", 10, order_cols=["eid"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") <= 1


def test_range_join_containment_and_multimatch(spark):
    """Inclusive endpoints; a point matches EVERY covering interval; a
    wide interval spanning many cells matches without duplicates."""
    from activedata_etl_spark.operators.temporal import range_join

    left = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 25), (3, "k", 99), (4, "z", 10)],
        "pid long, k string, t long",
    )
    right = spark.createDataFrame(
        [("k", 10, 25, "a"),      # endpoints inclusive both sides
         ("k", 20, 120, "b"),     # spans many width-7 cells
         ("k", 26, 28, "c"),
         ("z", 50, 60, "d")],
        "k string, s long, e long, tag string",
    )
    out = sorted(
        (r["pid"], r["tag_rj"])
        for r in range_join(
            left, right, on="k", left_time="t",
            right_start="s", right_end="e", bucket_width=7,
            right_cols=["tag"],
        ).collect()
    )
    assert out == [(1, "a"), (2, "a"), (2, "b"), (3, "b")]


def test_range_join_matches_naive_nonequi(spark):
    """Cell-quantized plan == the naive non-equi join, on random data."""
    from activedata_etl_spark.operators.temporal import range_join

    left = spark.range(300).select(
        F.col("id").alias("pid"), (F.col("id") % 5).alias("k"),
        (F.col("id") * 37 % 500).alias("t"))
    right = spark.range(80).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 53 % 450).alias("s"),
        ((F.col("id") * 53 % 450) + (F.col("id") % 60)).alias("e"),
        F.col("id").alias("rid"))
    got = {
        (r["pid"], r["rid_rj"])
        for r in range_join(left, right, on="k", left_time="t",
                            right_start="s", right_end="e",
                            bucket_width=25, right_cols=["rid"]).collect()
    }
    want = {
        (r["pid"], r["rid"])
        for r in left.alias("l").join(
            right.alias("r"),
            (F.col("l.k") == F.col("r.k"))
            & (F.col("l.t") >= F.col("r.s"))
            & (F.col("l.t") <= F.col("r.e")),
        ).select("l.pid", "r.rid").collect()
    }
    assert got == want and len(got) > 50


def test_funnel_order_within_and_depth(spark):
    """Steps must complete IN ORDER (a purchase before the click does not
    count), strictly after the previous step, inside the `within` fence;
    depth counts consecutive completions; keys without step 1 drop."""
    from activedata_etl_spark.operators.funnels import funnel

    rows = [
        # u1: clean A(10) -> B(20) -> C(30)
        (1, 10.0, "A"), (1, 20.0, "B"), (1, 30.0, "C"),
        # u2: C before B -> depth 2 (C at 15 precedes B at 20; no C after)
        (2, 10.0, "A"), (2, 15.0, "C"), (2, 20.0, "B"),
        # u3: B at the SAME time as A -> strict > means depth 1
        (3, 10.0, "A"), (3, 10.0, "B"),
        # u4: B outside the within window -> depth 1
        (4, 10.0, "A"), (4, 200.0, "B"),
        # u5: never does A -> no output row even with B, C present
        (5, 1.0, "B"), (5, 2.0, "C"),
        # u6: earliest A wins, later duplicate As ignored
        (6, 50.0, "A"), (6, 40.0, "A"), (6, 45.0, "B"), (6, 60.0, "C"),
    ]
    df = spark.createDataFrame(rows, ["uid", "t", "typ"])
    got = {
        r["uid"]: (r["t_1"], r["t_2"], r["t_3"], r["depth"])
        for r in funnel(df, "uid", "t", ["A", "B", "C"],
                        step_col="typ", within=100.0).collect()
    }
    assert got == {
        1: (10.0, 20.0, 30.0, 3),
        2: (10.0, 20.0, None, 2),
        3: (10.0, None, None, 1),
        4: (10.0, None, None, 1),
        6: (40.0, 45.0, 60.0, 3),
    }


def test_funnel_counts_nested_and_single_shuffle(spark):
    """funnel_counts is non-increasing and step-labelled; the funnel plan
    carries exactly ONE hash exchange on the key (the K window mins and
    the collapsing agg all reuse it) — the scale contract."""
    from activedata_etl_spark.operators.funnels import funnel, funnel_counts

    df = spark.range(300).select(
        (F.col("id") % 57).alias("uid"),
        (F.col("id") * 7 % 101).cast("double").alias("t"),
        F.element_at(
            F.array(F.lit("A"), F.lit("B"), F.lit("C"), F.lit("X")),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("typ"),
    )
    fc = funnel_counts(df, "uid", "t", ["A", "B", "C"], step_col="typ")
    rows = {r["step_index"]: (r["step"], r["n_keys"]) for r in fc.collect()}
    assert rows[1][0] == "A" and rows[2][0] == "B" and rows[3][0] == "C"
    assert rows[1][1] >= rows[2][1] >= rows[3][1] > 0
    plan = (
        funnel(df, "uid", "t", ["A", "B", "C"], step_col="typ")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_funnel_validation(spark):
    from activedata_etl_spark.operators.funnels import funnel

    df = spark.createDataFrame([(1, 1.0, "A")], ["uid", "t", "typ"])
    with pytest.raises(ValueError, match="at least 2"):
        funnel(df, "uid", "t", ["A"], step_col="typ")
    with pytest.raises(ValueError, match="duplicate"):
        funnel(df, "uid", "t", ["A", "B", "A"], step_col="typ")


def test_cohort_retention_fixed_width_periods(spark):
    """Cohort = period of first event; offsets count DISTINCT active keys
    (multiple events in one period count once); offset 0 row equals the
    cohort size; numeric time columns use plain-unit widths."""
    from activedata_etl_spark.operators.funnels import cohort_retention

    rows = [
        # u1 first in period 0, active 0 and 2 (two events in p2 -> once)
        (1, 5.0), (1, 25.0), (1, 27.0),
        # u2 first in period 0, active 0 only
        (2, 9.0),
        # u3 first in period 1, active 1 and 2
        (3, 12.0), (3, 22.0),
        # null time ignored
        (4, None),
    ]
    df = spark.createDataFrame(rows, "uid long, t double")
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_keys"]
        for r in cohort_retention(df, "uid", "t", period=10.0).collect()
    }
    assert got == {(0, 0): 2, (0, 2): 1, (1, 0): 1, (1, 1): 1}
    with pytest.raises(ValueError, match="positive"):
        cohort_retention(df, "uid", "t", period=0.0)


def test_corpus_pipeline_composes_end_to_end(spark, tmp_path):
    """The full training-data assembly composes through the public API:
    exact dedup -> quality floor -> deterministic split -> token packing
    (train only) -> sharded JSONL export.  Invariants: dedup keeps one
    doc per text; splits are disjoint and id-deterministic; packs respect
    the budget start rule; the exported manifest accounts every train
    doc; no val/test id appears in the export; re-export is identical."""
    import glob
    import gzip
    import json as _json

    from activedata_etl_spark.functions.text import bpe_ish_token_count, quality_score
    from activedata_etl_spark.operators.dedup import exact_dup_groups
    from activedata_etl_spark.operators.sampling import pack_sequences, split_assign
    from activedata_etl_spark.sinks.jsonl_export import export_jsonl_shards

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # sf0.001 has no exact duplicates — inject copies under fresh ids so
    # the dedup stage has real work
    docs = base.unionByName(
        base.where(F.col("doc_id") % 11 == 0)
        .withColumn("doc_id", F.col("doc_id") + 10_000)
    )

    # 1. exact dedup: drop every non-keeper of each duplicate-text group
    groups = exact_dup_groups(docs, "doc_id", "text")
    losers = groups.select(
        F.explode("doc_ids").alias("doc_id"), F.col("keep_id")
    ).where(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    clean = docs.join(losers, "doc_id", "left_anti").select(*docs.columns)
    n_losers = losers.count()
    assert clean.count() == docs.count() - n_losers and n_losers > 0

    # 2. quality floor + token counts (pure Catalyst columns)
    scored = clean.select(
        "doc_id", "text",
        quality_score(F.col("text")).alias("q"),
        bpe_ish_token_count(F.col("text")).alias("n_tokens"),
    ).where(F.col("q") >= 0.2)
    assert 0 < scored.count() <= clean.count()

    # 3. deterministic split — disjoint, reproducible from ids alone
    split = split_assign(scored, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    again = split_assign(scored, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert split.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")).count() == 0
    by_split = {r["split"]: r["n"] for r in
                split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by_split) == {"train", "val", "test"}

    # 4. pack the train split under a token budget
    train = split.where(F.col("split") == "train")
    packed = pack_sequences(train, "doc_id", "n_tokens", budget=512, n_shards=8)
    assert packed.count() == train.count()          # packing drops nothing
    # a doc's pack is where its FIRST token lands: tok_offset < budget
    # (an overflowing predecessor may push a pack's first doc mid-range,
    # so tok_offset==0 at pack_pos==0 is NOT an invariant)
    assert packed.where(F.col("tok_offset") >= 512).count() == 0

    # 5. export the packed train set; audit the manifest and leakage
    out = str(tmp_path / "train_export")
    man = export_jsonl_shards(
        packed.select("doc_id", "shard", "pack_id", "pack_pos", "text"),
        out, id_col="doc_id", n_shards=5,
    )
    assert sum(m["n_rows"] for m in man) == train.count()
    exported_ids = set()
    for fn in glob.glob(f"{out}/data/shard=*/part-*"):
        with gzip.open(fn, "rt") as f:
            for line in f:
                exported_ids.add(_json.loads(line)["doc_id"])
    holdout = {r["doc_id"] for r in
               split.where(F.col("split") != "train").select("doc_id").collect()}
    assert exported_ids.isdisjoint(holdout)         # no eval leakage
    assert len(exported_ids) == train.count()


def test_resample_gap_fill_semantics(spark):
    """Dense grid per key between first and last bucket; counters fill
    literal 0, gauges forward-fill, unfilled stay null; null timestamps
    excluded; clashing/unknown names raise."""
    from activedata_etl_spark.operators.temporal import resample

    rows = [
        # key 1: events in buckets 0 and 3 (width 10) -> 1,2 are gaps
        (1, 1.0, 5.0), (1, 2.0, 7.0), (1, 31.0, 2.0),
        # key 2: single bucket -> no gaps
        (2, 45.0, 9.0),
        # null time ignored entirely
        (1, None, 99.0),
    ]
    df = spark.createDataFrame(rows, "k long, t double, v double")
    out = resample(
        df, "k", "t", width=10.0,
        aggs={"n": F.count(F.lit(1)), "mx": F.max("v"), "raw": F.sum("v")},
        fill={"n": 0, "mx": "ffill"},
    )
    got = {(r["k"], r["bucket"]): (r["n"], r["mx"], r["raw"], r["bucket_start"])
           for r in out.collect()}
    assert got == {
        (1, 0): (2, 7.0, 12.0, 0.0),
        (1, 1): (0, 7.0, None, 10.0),   # gap: n->0, mx ffilled, raw null
        (1, 2): (0, 7.0, None, 20.0),
        (1, 3): (1, 2.0, 2.0, 30.0),    # real bucket: mx is ITS max
        (2, 4): (1, 9.0, 9.0, 40.0),
    }
    import pytest as _pytest
    with _pytest.raises(ValueError, match="clash"):
        resample(df, "k", "t", width=10.0, aggs={"bucket": F.count(F.lit(1))})
    with _pytest.raises(ValueError, match="unknown"):
        resample(df, "k", "t", width=10.0, aggs={"n": F.count(F.lit(1))},
                 fill={"zz": 0})
    with _pytest.raises(ValueError, match="positive"):
        resample(df, "k", "t", width=0.0, aggs={"n": F.count(F.lit(1))})


def test_resample_timestamps_and_single_agg_shuffle(spark):
    """Timestamp columns bucket by epoch seconds; the raw table feeds
    exactly one aggregate exchange (the spine reuses the same scan via
    its own per-key aggregate — no join back to raw rows)."""
    import datetime as dt

    from activedata_etl_spark.operators.temporal import resample

    rows = [(1, dt.datetime(2024, 1, 1, 0, 30), 1.0),
            (1, dt.datetime(2024, 1, 3, 12, 0), 2.0)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = resample(df, "k", "ts", width=86400.0,
                   aggs={"n": F.count(F.lit(1))}, fill={"n": 0})
    rows_out = out.orderBy("bucket").collect()
    assert [r["n"] for r in rows_out] == [1, 0, 1]   # Jan 2 is a gap
    assert rows_out[0]["bucket"] * 86400.0 == rows_out[0]["bucket_start"]


def test_bucket_frame_numpy_matches_jvm_expressions(spark):
    """The Arrow/numpy mix31 bucket assignment (r6 optimization) must agree
    bit-for-bit with the JVM hyperplane expressions it replaced — the
    candidate set is bucket-defined, so any sign disagreement would change
    declared results."""
    from activedata_etl_spark.operators.similarity import (
        bucket_frame,
        hyperplane_bucket,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    got = {
        (r["id"], r["table"]): r["bucket"]
        for r in bucket_frame(
            emb, "vec_id", "embedding", n_planes=6, n_tables=4, seed=23,
        ).collect()
    }
    jvm = emb.select(
        F.col("vec_id").alias("id"),
        *[
            hyperplane_bucket(
                F.col("embedding"), n_planes=6, dim=dim, seed=23 + 1000 * t,
            ).alias(f"b{t}")
            for t in range(4)
        ],
    ).collect()
    want = {(r["id"], t): r[f"b{t}"] for r in jvm for t in range(4)}
    assert got == want


def test_simhash_canonical_band_matches_distinct_path(spark):
    """The r6 canonical-first-band emission (no-cap path) must yield the
    same pair set as the distinct-based path (forced via a non-binding
    frequency cap)."""
    from activedata_etl_spark.operators.dedup import simhash_pairs

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .where(F.col("doc_id") < 200)
    canonical = simhash_pairs(
        d, "doc_id", "text", max_hamming=3, max_band_freq=None,
    )
    distinct_path = simhash_pairs(
        d, "doc_id", "text", max_hamming=3,
        max_band_freq=10**9,  # cap never binds -> identical semantics
    )
    a = {tuple(r) for r in canonical.collect()}
    b = {tuple(r) for r in distinct_path.collect()}
    assert a == b and len(a) > 0
