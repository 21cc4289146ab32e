"""Lloyd k-means coarse quantizer: determinism + recall vs the subset
quantizer at equal nprobe (VERDICT r1 item 8)."""

from __future__ import annotations

from pyspark.sql import functions as F

from abr_etl_spark.functions import cache
from abr_etl_spark.operators.similarity import (
    cosine_topk,
    ivf_ann_topk,
    kmeans_centroids,
)

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


def test_kmeans_beats_subset_quantizer_recall(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(e, q, k=5))
    subset = e.where(F.col("vec_id") % 50 == 0)  # 10 deterministic seeds
    km = kmeans_centroids(e, 10, iters=2).withColumnRenamed(
        "centroid_id", "vec_id"
    )
    r_subset = len(_pairs(ivf_ann_topk(e, q, subset, k=5)) & exact) / len(exact)
    r_km = len(_pairs(ivf_ann_topk(e, q, km, k=5)) & exact) / len(exact)
    # measured: 0.30 subset vs 0.80 k-means at nprobe=1
    assert r_km > r_subset
    assert r_km >= 0.6


def test_kmeans_deterministic_across_runs(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = kmeans_centroids(e, 8, iters=2).orderBy("centroid_id").collect()
    b = kmeans_centroids(e, 8, iters=2).orderBy("centroid_id").collect()
    assert [r.embedding for r in a] == [r.embedding for r in b]


def test_kmeans_handles_k_larger_than_distinct_points(spark):
    rows = [(i, [float(i % 2), 1.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = kmeans_centroids(df, 3, iters=2).collect()
    assert len(cents) == 3  # empty cells keep their previous centroid


def test_kmeans_index_persists_and_reuses(spark, tmp_path, monkeypatch):
    """r10 verdict item 6: the IVF quantizer is a PERSISTED index. The
    first call computes + writes the sidecar; a later session (memo
    cleared, kmeans_centroids poisoned) serves centroids from disk,
    bit-identical, running zero k-means jobs. A source rewrite or param
    change invalidates the fingerprint and rebuilds."""
    import json
    import os

    from abr_etl_spark.operators import similarity

    idx = str(tmp_path / "index")
    e = spark.read.parquet(f"{SF}/embeddings.parquet")

    def rows(df):
        return [
            (r["centroid_id"], list(r["embedding"]))
            for r in df.orderBy("centroid_id").collect()
        ]

    first = rows(
        similarity.kmeans_index(
            spark, e, 8, iters=2,
            source_path=f"{SF}/embeddings.parquet", index_dir=idx,
        )
    )
    sidecars = [f for f in os.listdir(idx) if f.endswith(".json")]
    assert len(sidecars) == 1
    assert first == rows(kmeans_centroids(e, 8, iters=2))

    # "second session": clear the memo AND poison the k-means -- any
    # recompute would raise, so equality proves a pure index probe
    cache._SESSION_MEMO.clear()

    def boom(*a, **k):
        raise AssertionError("index probe must not run k-means")

    monkeypatch.setattr(similarity, "kmeans_centroids", boom)
    again = rows(
        similarity.kmeans_index(
            spark, e, 8, iters=2,
            source_path=f"{SF}/embeddings.parquet", index_dir=idx,
        )
    )
    assert again == first

    # param change -> different fingerprint -> rebuild is attempted
    import pytest

    cache._SESSION_MEMO.clear()
    with pytest.raises(AssertionError, match="index probe"):
        similarity.kmeans_index(
            spark, e, 9, iters=2,
            source_path=f"{SF}/embeddings.parquet", index_dir=idx,
        )
    monkeypatch.undo()

    # a STALE sidecar (fingerprint mismatch after a source rewrite) is
    # rebuilt, never trusted
    sc = os.path.join(idx, sidecars[0])
    payload = json.load(open(sc))
    payload["fingerprint"] = "stale"
    json.dump(payload, open(sc, "w"))
    cache._SESSION_MEMO.clear()
    rebuilt = rows(
        similarity.kmeans_index(
            spark, e, 8, iters=2,
            source_path=f"{SF}/embeddings.parquet", index_dir=idx,
        )
    )
    assert rebuilt == first
    assert json.load(open(sc))["fingerprint"] != "stale"


def test_kmeans_index_memo_serves_without_disk(spark, tmp_path, monkeypatch):
    """Within one session the memo alone (no index_dir) already
    dedups the quantizer across keys (ann_ivf_kmeans + dedup_semantic
    share it): the second call runs no k-means."""
    from abr_etl_spark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    first = similarity.kmeans_index(
        spark, e, 8, iters=1, source_path=f"{SF}/embeddings.parquet"
    ).collect()

    def boom(*a, **k):
        raise AssertionError("memo hit expected")

    monkeypatch.setattr(similarity, "kmeans_centroids", boom)
    again = similarity.kmeans_index(
        spark, e, 8, iters=1, source_path=f"{SF}/embeddings.parquet"
    ).collect()
    monkeypatch.undo()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))


def test_pq_index_persists_and_reuses(spark, tmp_path, monkeypatch):
    """SURVEY §7.15 PQ productionization: per-subspace codebooks go
    through the same persisted-index discipline as the IVF quantizer.
    First call trains + writes the sidecar; a 'second session' (memo
    cleared, training poisoned) serves the codebook from disk
    bit-identically; a fingerprint mismatch rebuilds."""
    import json
    import os

    from abr_etl_spark.operators import similarity

    idx = str(tmp_path / "pqindex")
    e = spark.read.parquet(f"{SF}/embeddings.parquet")

    def rows(df):
        return [
            (r["m"], r["c"], list(r["cvec"]))
            for r in df.orderBy("m", "c").collect()
        ]

    kw = dict(
        n_sub=4, sub_dim=16, k=8, iters=1,
        source_path=f"{SF}/embeddings.parquet", index_dir=idx,
    )
    first = rows(similarity.pq_index(spark, e, **kw))
    assert len(first) == 4 * 8
    assert all(len(v) == 16 for _, _, v in first)
    sidecars = [f for f in os.listdir(idx) if f.startswith("pq_")]
    assert len(sidecars) == 1
    assert first == rows(
        similarity.pq_subspace_kmeans(e, n_sub=4, sub_dim=16, k=8, iters=1)
    )

    cache._SESSION_MEMO.clear()

    def boom(*a, **k):
        raise AssertionError("index probe must not train codebooks")

    monkeypatch.setattr(similarity, "pq_subspace_kmeans", boom)
    again = rows(similarity.pq_index(spark, e, **kw))
    assert again == first
    monkeypatch.undo()

    # stale sidecar -> rebuilt, never trusted
    sc = os.path.join(idx, sidecars[0])
    payload = json.load(open(sc))
    payload["fingerprint"] = "stale"
    json.dump(payload, open(sc, "w"))
    cache._SESSION_MEMO.clear()
    rebuilt = rows(similarity.pq_index(spark, e, **kw))
    assert rebuilt == first
    assert json.load(open(sc))["fingerprint"] != "stale"


def test_pq_subspace_kmeans_improves_quantization(spark):
    """One Lloyd iteration must not worsen the PQ objective (total
    squared quantization error over all (vector, subspace) cells) vs
    the seed-slice codebook -- Lloyd monotonicity, up to the e6/float32
    rounding grain. iters=0 reproduces the seed slices exactly."""
    from pyspark.sql import functions as F

    from abr_etl_spark.functions import texthash as th
    from abr_etl_spark.operators import similarity
    from pyspark.sql.functions import broadcast

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    sub = spark.range(4).select(F.col("id").cast("int").alias("m"))
    xsub = e.crossJoin(broadcast(sub)).select(
        "vec_id", "m",
        F.expr("slice(embedding, m * 16 + 1, 16)").alias("xv"),
    )

    def objective(cb):
        d = (
            xsub.join(broadcast(cb), "m")
            .select(
                "vec_id", "m",
                F.expr(th.sp_l2sq("xv", "cvec")).alias("d"),
            )
            .groupBy("vec_id", "m")
            .agg(F.min("d").alias("dmin"))
            .agg(F.sum("dmin").alias("J"))
            .collect()[0]["J"]
        )
        return d

    seeds = similarity.pq_subspace_kmeans(
        e, n_sub=4, sub_dim=16, k=8, iters=0
    )
    trained = similarity.pq_subspace_kmeans(
        e, n_sub=4, sub_dim=16, k=8, iters=1
    )
    j0, j1 = objective(seeds), objective(trained)
    assert j1 <= j0 * 1.0001
    assert j1 < j0  # at this sf the seeds are far from stationary

    # iters=0 IS the seed-slice codebook ann_pq_adc ships
    lo = e.orderBy("vec_id").limit(8).collect()
    lo_sorted = sorted(lo, key=lambda r: r["vec_id"])
    for r in seeds.orderBy("m", "c").collect():
        exp = lo_sorted[r["c"]]["embedding"][r["m"] * 16 : r["m"] * 16 + 16]
        assert list(r["cvec"]) == list(exp)
