"""Similarity search over embedding columns (array<float>).

- brute-force exact top-k: broadcast the (small) query set against the
  corpus -- a map-side nested loop with JVM-side dot products; the only
  shuffle is the final per-query top-k (rows = queries x k).
- LSH-bucketed ANN: deterministic random-hyperplane signatures bucket the
  corpus; queries probe their own bucket only. The scale path: bucket
  cardinality ~ corpus / 2^bits, recall measured in tests.
- embedding near-dup pairs: all-pairs >= tau at test SF; at scale the
  LSH bucketing bounds the candidate set the same way minhash-LSH does
  for text.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.functions.cache import materialize_result, session_memo

# Deterministic hyperplane seeds (inlined into both engines' expressions).
HYPERPLANE_BITS = 8

#: corpus size where the Arrow-vectorized kernels overtake the codegen'd
#: expression plan end-to-end (measured A/B: tools/bench_arrow_crossover
#: -- expr wins at 10k, ~even at 30k, arrow 2.8x at 100k vectors).
ARROW_MIN_VECTORS = 50_000

def _hyperplane_sign(bit: int, dim_expr: str) -> str:
    """Pseudo-random +-1 for (hyperplane bit, dimension) -- an LCG on the
    flattened index, identical constant math in Spark and DuckDB."""
    # CAST keeps the LCG in BIGINT (ANSI int32 would overflow); the CAST
    # syntax is shared by Spark SQL and DuckDB so both engines run the
    # identical string.
    return (
        f"CASE WHEN ((1103515245 * CAST({bit} * 4096 + {dim_expr} + 1 AS BIGINT) "
        f"+ 12345) % 65536) < 32768 THEN -1.0 ELSE 1.0 END"
    )


def sp_lsh_bucket(vec: str, bits: int = HYPERPLANE_BITS) -> str:
    """Random-hyperplane bucket id for a float-array expression (Spark).

    Fused single pass: ONE aggregate over the dimensions carrying all
    ``bits`` partial projections in an array accumulator (vs the naive
    ``bits`` separate zip_with+aggregate passes, each materializing a
    dims-sized intermediate -- measured ~35% faster at sf0.1 with
    bit-identical bucket values; the LCG sign works unchanged with a
    runtime bit variable). dk_lsh_bucket keeps the per-bit form -- it
    only runs on the small oracle side and values are identical.
    """
    sign = _hyperplane_sign("b", "i")
    return (
        f"aggregate(zip_with("
        f"aggregate(sequence(0, size({vec}) - 1), "
        f"array_repeat(0.0D, {bits}), "
        f"(acc, i) -> zip_with(acc, sequence(0, {bits - 1}), "
        f"(s, b) -> s + cast(element_at({vec}, i + 1) as double) * ({sign}))), "
        f"sequence(0, {bits - 1}), (p, b) -> IF(p > 0, shiftleft(1, b), 0)), "
        f"0, (s, x) -> s + x)"
    )


def dk_lsh_bucket(vec: str, bits: int = HYPERPLANE_BITS) -> str:
    """Same bucket id in DuckDB SQL."""
    projections = []
    for b in range(bits):
        proj = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(range(0, len({vec})), "
            f"i -> {vec}[i + 1]::DOUBLE * ({_hyperplane_sign(b, 'i')}))), "
            f"(s, x) -> s + x)"
        )
        projections.append(f"CASE WHEN ({proj}) > 0 THEN {1 << b} ELSE 0 END")
    return "(" + " + ".join(projections) + ")"


def _hyperplane_sign_matrix(bits: int, dims: int):
    """(bits, dims) float64 matrix of the SAME +-1 LCG values
    _hyperplane_sign emits in SQL -- integer math, exactly replayable."""
    import numpy as np

    idx = np.arange(dims, dtype=np.int64)
    rows = [
        np.where(
            (1103515245 * (b * 4096 + idx + 1) + 12345) % 65536 < 32768,
            -1.0,
            1.0,
        )
        for b in range(bits)
    ]
    return np.stack(rows)


def arrow_base_features(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = HYPERPLANE_BITS,
) -> DataFrame:
    """(id, v, __n, bucket) via ONE Arrow mapInPandas pass.

    Bit-identical to the sp_norm / sp_lsh_bucket SQL expressions: the
    accumulation loops run dimension-by-dimension in float64, the exact
    operation order of the interpreted sequential aggregates, so sign
    decisions and norms cannot diverge. Each add is vectorized across
    the Arrow batch instead of interpreted per element -- the scale path
    once per-element compute beats the worker-spawn constant (see
    embedding_dup_pairs on when that crossover happens);
    tests/test_llm_pipeline.py asserts exact equality with the
    expression path.
    """
    import numpy as np

    def compute(batches):
        signs = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            if signs is None:
                signs = _hyperplane_sign_matrix(bits, v.shape[1])
            n_acc = np.zeros(len(pdf))
            proj = np.zeros((len(pdf), bits))
            for i in range(v.shape[1]):
                col = v[:, i]
                n_acc += col * col
                proj += col[:, None] * signs[:, i]
            bucket = (
                (proj > 0).astype(np.int64)
                << np.arange(bits, dtype=np.int64)
            ).sum(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf["__id"],
                    "v": pdf["__v"],
                    "__n": np.sqrt(n_acc),
                    "bucket": bucket,
                }
            )

    vec_type = dict(df.dtypes)[vec_col]
    return df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(
        compute, schema=f"id long, v {vec_type}, __n double, bucket long"
    )


def _dot_seq_udf():
    """Arrow-batched sequential-order dot product (same float64 op order
    as sp_dot's interpreted aggregate)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot_seq(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy()).astype(np.float64)
        b = np.stack(vb.to_numpy()).astype(np.float64)
        acc = np.zeros(len(va))
        for i in range(a.shape[1]):
            acc += a[:, i] * b[:, i]
        return pd.Series(acc)

    return dot_seq


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Broadcast nested-loop join (queries are small by contract); cosine in
    doubles with sequential summation (oracle-identical). Deterministic
    rank: (rounded score desc, neighbor id asc).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.expr(th.sp_norm(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(th.sp_norm(vec_col)).alias("__cn"),
    )
    scored = (
        c.crossJoin(broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(
            F.expr(th.sp_dot("q_vec", "c_vec"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = HYPERPLANE_BITS,
) -> DataFrame:
    """Approximate top-k: probe only the query's hyperplane bucket.

    Recall < 1 by design; tests measure it against cosine_topk. At scale
    the bucket join replaces the corpus broadcast with an equi-join on
    bucket id -- candidate set shrinks ~2^bits-fold.
    """
    bucket = lambda col: F.expr(sp_lsh_bucket(col, bits))  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(th.sp_norm(vec_col)).alias("__cn"),
        bucket(vec_col).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.expr(th.sp_norm(vec_col)).alias("__qn"),
        bucket(vec_col).alias("bucket"),
    )
    scored = (
        c.join(broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(
            F.expr(th.sp_dot("q_vec", "c_vec"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def probe_masks(bits: int, radius: int) -> list[int]:
    """All XOR masks within hamming ``radius`` of 0 over ``bits`` bits
    -- the multiprobe bucket offsets, shared as literals by the Spark
    plan and the DuckDB sweep oracle (sum of C(bits, 0..radius))."""
    return [m for m in range(1 << bits) if bin(m).count("1") <= radius]


def lsh_ann_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = HYPERPLANE_BITS,
    radius: int = 1,
) -> DataFrame:
    """Multiprobe LSH ANN: each query probes every bucket within
    hamming ``radius`` of its own (sum of C(bits, 0..radius) probes;
    radius=0 is the single-probe index, radius=1 the classic
    multiprobe) -- the standard recall/cost knob, swept in-engine by
    plans/llm_pipeline7.ann_nprobe_sweep. Implemented by exploding the
    LITERAL mask list on the (small) query side, so the corpus is
    still touched via equi-join.
    """
    bucket = lambda col: F.expr(sp_lsh_bucket(col, bits))  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(th.sp_norm(vec_col)).alias("__cn"),
        bucket(vec_col).alias("bucket"),
    )
    masks = ", ".join(str(m) for m in probe_masks(bits, radius))
    probes = F.expr(
        f"transform(array({masks}), m -> cast(q_bucket ^ m as int))"
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            F.expr(th.sp_norm(vec_col)).alias("__qn"),
            bucket(vec_col).alias("q_bucket"),
        )
        .withColumn("bucket", F.explode(probes))
    )
    scored = (
        c.join(broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(
            F.expr(th.sp_dot("q_vec", "c_vec"))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ))
        .select("query_id", "neighbor_id", "cos")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine) -- the IVF
    coarse quantizer. Centroids broadcast; assignment is a map-side
    argmax with a deterministic tie-break on centroid id.

    A production pipeline would k-means the centroids; HERE they are a
    deterministic subset of the corpus (reproducible in the oracle), which
    exercises the identical plan shape.
    """
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(th.sp_norm(vec_col)).alias("__cn"),
    )
    scored = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(th.sp_norm(vec_col)).alias("__vn"),
    ).crossJoin(broadcast(c)).withColumn(
        "cos_c",
        F.round(
            F.expr(th.sp_dot(vec_col, "c_vec"))
            / (F.col("__vn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cos_c").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(id_col, vec_col, "centroid_id")
    )


def kmeans_centroids(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Deterministic Lloyd k-means for the IVF coarse quantizer.

    Init: the k lowest-id vectors (reproducible, no RNG), found with
    ``orderBy(id).limit(k)`` -- Catalyst compiles that to
    TakeOrderedAndProject (distributed partial top-k per partition, then
    a k-row merge on the driver), NOT a single-partition global sort.
    centroid_id = the id's rank among the k winners, derived from one
    broadcast 1-row sorted-id array -- no unpartitioned window anywhere
    in the plan (the r2 ``WindowExec: No Partition Defined`` fix).

    Each iteration is fully declarative: assign every vector to its
    nearest centroid (broadcast argmax, same plan as ivf_assign), then
    recompute centroids as per-cell per-dimension means via posexplode +
    groupBy(cell, dim) -- n x dim rows through one shuffle, no Python.
    The mean is computed in exact integer micro-units
    (sum of floor(val*1e6 + 0.5) as BIGINT, one double division at the
    end) so Spark's partial-aggregation summation order and DuckDB's
    sequential order provably agree bit-for-bit -- a float-sum
    order-dependence here would flip boundary-cell assignments and
    cascade into oracle hash fails at other partitionings. Empty cells
    keep their previous centroid. localCheckpoint between iterations
    cuts the growing lineage so iteration i+1 doesn't replay iteration i.

    Returns (centroid_id, ``vec_col``) with centroid_id 0..k-1, directly
    consumable by ivf_ann_topk / ivf_assign.
    """
    sel = df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k)
    ids = sel.groupBy().agg(
        F.array_sort(F.collect_list(id_col)).alias("__ids")
    )
    centroids = (
        sel.crossJoin(broadcast(ids))
        .select(
            (F.array_position(F.col("__ids"), F.col(id_col)) - 1)
            .cast("int")
            .alias("centroid_id"),
            F.col(vec_col),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = ivf_assign(
            df,
            centroids.withColumnRenamed("centroid_id", id_col),
            id_col=id_col,
            vec_col=vec_col,
        )
        means = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("dim", "val")
            )
            .groupBy("centroid_id", "dim")
            .agg(
                F.sum(
                    F.floor(
                        F.col("val").cast("double") * 1000000 + F.lit(0.5)
                    ).cast("long")
                ).alias("__su"),
                F.count("val").alias("__cnt"),
            )
            .withColumn(
                "mu",
                F.col("__su").cast("double") / F.col("__cnt") / F.lit(1000000.0),
            )
            .groupBy("centroid_id")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, mu))), "
                    "x -> cast(x.mu as float))"
                ).alias("__new_vec")
            )
        )
        centroids = (
            centroids.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("__new_vec", F.col(vec_col)).alias(vec_col),
            )
            .localCheckpoint(eager=True)
        )
    return centroids


#: env var naming a directory for persisted IVF centroid sidecars;
#: unset -> indexes live only in the session memo below.
IVF_INDEX_ENV = "SPARK_GRAFT_INDEX_DIR"


def _index_rows(spark, kind: str, fp: str, index_dir, field: str, compute):
    """Rows of a persisted index (``kind`` "ivf" or "pq"): session memo
    keyed on the fingerprint -> sidecar JSON under ``index_dir`` (or
    $SPARK_GRAFT_INDEX_DIR) -> ``compute()`` and write the sidecar. The
    sidecar stores the fingerprint; a stale or mismatched one is
    rebuilt, never trusted. Rows are (int ids..., float list or None)
    -- metadata scale."""
    import hashlib
    import json
    import os

    def load():
        d = index_dir if index_dir is not None else os.environ.get(IVF_INDEX_ENV)
        sidecar = (
            os.path.join(
                d, f"{kind}_{hashlib.sha256(fp.encode()).hexdigest()[:24]}.json"
            )
            if d
            else None
        )
        if sidecar and os.path.exists(sidecar):
            with open(sidecar) as fh:
                payload = json.load(fh)
            if payload.get("fingerprint") == fp:
                return [
                    (
                        *map(int, r[:-1]),
                        None if r[-1] is None else list(map(float, r[-1])),
                    )
                    for r in payload[field]
                ]
        rows = compute()
        if sidecar:
            os.makedirs(d, exist_ok=True)
            tmp = sidecar + ".tmp"
            with open(tmp, "w") as fh:
                json.dump({"fingerprint": fp, field: [list(r) for r in rows]}, fh)
            os.replace(tmp, sidecar)
        return rows

    return session_memo(spark, f"{kind}_index", fp, load)


def _kmeans_fingerprint(source_path: str, k: int, iters: int) -> str:
    """Freshness key for a persisted IVF index: the source parquet's
    (path, size, mtime) plus the quantizer params -- any data rewrite
    or param change misses and rebuilds."""
    import os

    st = os.stat(source_path)
    return (
        f"{os.path.abspath(source_path)}|{st.st_size}|{st.st_mtime_ns}"
        f"|k={k}|iters={iters}|v1"
    )


def kmeans_index(
    spark,
    df: DataFrame,
    k: int,
    *,
    iters: int,
    source_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_dir: str | None = None,
) -> DataFrame:
    """kmeans_centroids behind a PERSISTED index: the coarse quantizer
    is computed once, collected (k x dim floats -- metadata scale), and
    served as a broadcast-friendly local relation from then on.

    Lookup order: session memo (keyed on the fingerprint below) ->
    sidecar JSON under ``index_dir`` (or $SPARK_GRAFT_INDEX_DIR) ->
    compute via Lloyd k-means and persist. The sidecar stores the
    fingerprint of the SOURCE parquet (path+size+mtime) and the params;
    a stale or mismatched sidecar is rebuilt, never trusted. Float32
    centroid values round-trip exactly (float32 -> Python double ->
    JSON -> float32), so an index probe is bit-identical to a fresh
    k-means -- pytest-proved in tests/test_kmeans_ivf.py.

    This is what turns ann_ivf_kmeans into a true INDEX probe: at
    100 TB the k-means (several full-corpus passes) runs once per
    ingest epoch, and every later search session pays only a sidecar
    read."""
    fp = _kmeans_fingerprint(source_path, k, iters)

    def compute():
        cents = kmeans_centroids(
            df, k, id_col=id_col, vec_col=vec_col, iters=iters
        )
        # NULL-payload lakes yield NULL centroid vectors (the degenerate-
        # lake net's contract: keys run, downstream cosines are NULL)
        return [
            (
                r["centroid_id"],
                None if r[vec_col] is None else list(r[vec_col]),
            )
            for r in cents.orderBy("centroid_id").collect()
        ]

    rows = _index_rows(spark, "ivf", fp, index_dir, "centroids", compute)
    return spark.createDataFrame(rows, f"centroid_id int, {vec_col} array<float>")


def pq_subspace_kmeans(
    df: DataFrame,
    *,
    n_sub: int,
    sub_dim: int,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic per-subspace Lloyd k-means for PRODUCT-QUANTIZATION
    codebooks (Jegou, Douze & Schmid 2011 train their codebooks exactly
    this way; the seed-slice codebook ann_pq_adc ships is the iters=0
    special case of this).

    Init: subspace ``m``'s codewords are the ``k`` lowest-id vectors'
    m-th subvectors -- the identical deterministic-seed device
    kmeans_centroids uses, so no RNG and the oracle replays it. Every
    Lloyd iteration runs ALL subspaces in ONE declarative chain keyed
    on the composite (m, c): assign each of the n x n_sub subvectors to
    its nearest codeword by exact-1e-6-unit squared L2 (sequential-fold
    sp_l2sq, ties by codeword id -- the same comparator the ADC scan
    uses), then recompute codewords as per-(m, c) per-dimension means
    in exact integer micro-units (sum of floor(val*1e6 + 0.5) BIGINT,
    one double division at the end) so Spark partial-agg order and
    DuckDB sequential order agree bit-for-bit. Empty cells keep their
    previous codeword. localCheckpoint between iterations cuts lineage
    (the codebook is n_sub x k rows -- metadata scale).

    Returns (m, c, cvec) with m in 0..n_sub-1, c in 0..k-1, cvec a
    sub_dim-float array -- directly consumable by the ADC pipeline.

    Scale shape: one corpus pass per iteration (n x n_sub rows through
    a broadcast join + partial-aggregated argmin, then a (m, c, dim)
    hash agg); nothing quadratic, no driver loop over subspaces."""
    sub = (
        df.sparkSession.range(n_sub)
        .select(F.col("id").cast("int").alias("m"))
    )
    sel = df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k)
    ids = sel.groupBy().agg(
        F.array_sort(F.collect_list(id_col)).alias("__ids")
    )
    cb = (
        sel.crossJoin(broadcast(ids))
        .select(
            (F.array_position(F.col("__ids"), F.col(id_col)) - 1)
            .cast("int")
            .alias("c"),
            F.col(vec_col),
        )
        .crossJoin(broadcast(sub))
        .select(
            "m",
            "c",
            F.expr(
                f"slice({vec_col}, m * {sub_dim} + 1, {sub_dim})"
            ).alias("cvec"),
        )
        .localCheckpoint(eager=True)
    )
    xsub = (
        df.select(id_col, vec_col)
        .crossJoin(broadcast(sub))
        .select(
            F.col(id_col),
            "m",
            F.expr(
                f"slice({vec_col}, m * {sub_dim} + 1, {sub_dim})"
            ).alias("xv"),
        )
    )
    d_e6 = (
        f"CAST(round(round({th.sp_l2sq('xv', 'cvec')}, 6) * 1000000.0, 0)"
        f" AS BIGINT)"
    )
    for _ in range(iters):
        assigned = (
            xsub.join(broadcast(cb), "m")
            .select(
                F.col(id_col),
                "m",
                F.struct(
                    F.expr(d_e6).alias("d_e6"), F.col("c"), F.col("xv")
                ).alias("__dcx"),
            )
            .groupBy(id_col, "m")
            .agg(F.min("__dcx").alias("__mn"))
            .select(
                "m", F.col("__mn.c").alias("c"), F.col("__mn.xv").alias("xv")
            )
        )
        means = (
            assigned.select("m", "c", F.posexplode("xv").alias("dim", "val"))
            .groupBy("m", "c", "dim")
            .agg(
                F.sum(
                    F.floor(
                        F.col("val").cast("double") * 1000000 + F.lit(0.5)
                    ).cast("long")
                ).alias("__su"),
                F.count("val").alias("__cnt"),
            )
            .withColumn(
                "mu",
                F.col("__su").cast("double")
                / F.col("__cnt")
                / F.lit(1000000.0),
            )
            .groupBy("m", "c")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(dim, mu))), "
                    "x -> cast(x.mu as float))"
                ).alias("__new_vec")
            )
        )
        cb = (
            cb.join(means, ["m", "c"], "left")
            .select(
                "m",
                "c",
                F.coalesce("__new_vec", F.col("cvec")).alias("cvec"),
            )
            .localCheckpoint(eager=True)
        )
    return cb


def _pq_fingerprint(
    source_path: str,
    n_sub: int,
    sub_dim: int,
    k: int,
    iters: int,
    variant: str | None = None,
) -> str:
    """Freshness key for a persisted PQ codebook sidecar: source parquet
    (path, size, mtime) + every codebook parameter. ``variant`` tags
    codebooks trained on a DERIVED space of the same source file (e.g.
    IVF residuals) so they never collide with the plain-PQ sidecar;
    None reproduces the pre-variant fingerprint text exactly."""
    import os

    st = os.stat(source_path)
    base = (
        f"{os.path.abspath(source_path)}|{st.st_size}|{st.st_mtime_ns}"
        f"|pq m={n_sub} sub={sub_dim} k={k} iters={iters}|v1"
    )
    return base if variant is None else f"{base}|{variant}"


def pq_index(
    spark,
    df: DataFrame,
    *,
    n_sub: int,
    sub_dim: int,
    k: int,
    iters: int,
    source_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_dir: str | None = None,
    variant: str | None = None,
) -> DataFrame:
    """pq_subspace_kmeans behind the same PERSISTED-index discipline as
    kmeans_index: session memo -> fingerprinted sidecar JSON under
    ``index_dir`` / $SPARK_GRAFT_INDEX_DIR -> compute + persist. The
    codebook is n_sub x k rows of sub_dim float32s -- metadata scale --
    and float32 values round-trip the JSON exactly (float32 -> double -> JSON -> float32), so an index
    probe is bit-identical to a fresh subspace k-means
    (tests/test_kmeans_ivf.py proves the no-jobs reuse).

    At 100 TB this is what makes PQ an INDEX: codebook training
    (iters corpus passes) runs once per ingest epoch; every later
    search session pays a sidecar read, then encodes/scans with
    broadcast codebooks only."""
    fp = _pq_fingerprint(source_path, n_sub, sub_dim, k, iters, variant)

    def compute():
        cb = pq_subspace_kmeans(
            df,
            n_sub=n_sub,
            sub_dim=sub_dim,
            k=k,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
        )
        return [
            (r["m"], r["c"], None if r["cvec"] is None else list(r["cvec"]))
            for r in cb.orderBy("m", "c").collect()
        ]

    rows = _index_rows(spark, "pq", fp, index_dir, "codebook", compute)
    return spark.createDataFrame(rows, "m int, c int, cvec array<float>")


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF ANN: probe only the query's cell (nprobe=1).

    Corpus and queries are assigned to cells by the same quantizer; the
    candidate join is an equi-join on centroid_id, so the search cost
    drops by ~|cells| while the plan stays fully declarative. Recall is
    bounded by cell purity -- measured in tests against cosine_topk.
    """
    c_assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    q_assigned = ivf_assign(queries, centroids, id_col=id_col, vec_col=vec_col)
    c = c_assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        "centroid_id",
    )
    q = q_assigned.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "centroid_id"
    )
    scored = (
        c.join(broadcast(q), "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.round(
                F.expr(th.sp_dot("q_vec", "c_vec"))
                / (F.expr(th.sp_norm("q_vec")) * F.expr(th.sp_norm("c_vec"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    bits: int = HYPERPLANE_BITS,
    n_bands: int = 2,
    method: str = "lsh",
    use_arrow: bool | str = "auto",
    n_vectors: int | None = None,
) -> DataFrame:
    """Near-dup pairs with cosine >= threshold.

    method="lsh" (default, the scale path): banded hyperplane LSH.
    Each vector's ``bits``-bit signature is split into ``n_bands`` bands;
    candidate pairs share at least one full band (equi-join on
    (band, band_value) -- pigeonhole-complete for hamming <= n_bands - 1,
    i.e. every signature pair differing in fewer bits than there are
    bands is guaranteed found). Candidates are then exact-cosine
    verified, so precision is exact; recall is governed by bits/n_bands
    and is near-1 at real dedup thresholds (cos >= 0.9 => expected
    hamming ~ bits * 0.15). Candidate volume ~ sum of per-bucket n^2 /
    2^(bits/n_bands) -- near-linear for well-spread signatures, vs the
    O(n^2) crossJoin of method="exact".

    method="exact": all-pairs crossJoin -- a deliberate small-n fallback
    (ground truth in tests); never the default.

    ``use_arrow``: signatures/norms and the per-candidate dot products
    run as Arrow-vectorized batches with the SAME float64 operation
    order as the SQL expressions, so results are bit-identical
    (pytest-asserted) and the choice is purely a throughput knob.
    Default "auto" picks by corpus size at the MEASURED crossover
    (tools/bench_arrow_crossover.py, local[32], 64 dims, 2-rep
    medians/warm):

        n=10k:   expr 6.2 s  vs arrow 14.8 s (warm 5.9 s)  -> expr
        n=30k:   expr 30.6 s vs arrow 41.6 s (warm 15.0 s) -> ~even
        n=100k:  expr 197 s  vs arrow 70.6 s (warm 56.6 s) -> arrow 2.8x

    Below ARROW_MIN_VECTORS the fixed Python-worker spawn (~3.5 s)
    plus per-candidate vector shipping dominates and the codegen'd
    expression plan wins; above it the per-element interpreted
    aggregate loses to vectorized batch math and Arrow wins outright.
    The auto probe runs df.count() ONCE per distinct input plan
    (memoized on df.semanticHash()): cheap row-group-metadata work for
    a bare parquet scan, but a full execution of whatever upstream
    plan df carries -- for derived inputs, pass ``n_vectors`` (an
    exact count is unnecessary; order of magnitude decides) or pin
    ``use_arrow`` to a bool and no probe runs at all.
    """
    a = df.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"))
    if method == "exact":
        return (
            a.crossJoin(b)
            .where(F.col("doc_a") < F.col("doc_b"))
            .withColumn("cos", F.round(F.expr(th.sp_cosine("va", "vb")), 6))
            .where(F.col("cos") >= threshold)
            .select("doc_a", "doc_b", "cos")
        )
    if use_arrow == "auto":
        if n_vectors is None:
            # keyed on the PLAN, not the files under it: if the parquet
            # directory's contents change within a session, the memoized
            # count picks the path for the OLD size, or a 32-bit hash
            # collision borrows another plan's count. Either only picks
            # the slower path, never a wrong result; pass ``n_vectors``
            # or pin ``use_arrow`` to escape.
            n_vectors = session_memo(
                df.sparkSession, "arrow_probe", df.semanticHash(), df.count
            )
        use_arrow = n_vectors >= ARROW_MIN_VECTORS
    width = bits // n_bands
    mask = (1 << width) - 1
    # Candidate generation and verification shuffle DIFFERENT payloads:
    # the banded self-join and pair-dedup move only (band, val, id) --
    # 16-byte rows -- and the vectors are joined back for just the
    # surviving unique pairs (same separation minhash_lsh_pairs uses;
    # shuffling vectors through the dedup costs ~70x more bytes).
    if use_arrow:
        base = arrow_base_features(
            df, id_col=id_col, vec_col=vec_col, bits=bits
        )
    else:
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.expr(th.sp_norm(vec_col)).alias("__n"),
            F.expr(sp_lsh_bucket(vec_col, bits)).alias("bucket"),
        )
    # persist, not localCheckpoint: a checkpoint RDD makes every
    # invocation's plan unique, so the RESULT cache below stops
    # canonicalizing equal across repeat calls and each call recomputes
    # and accumulates fresh blocks (r6 regression: warm 0.42 s -> 1.39 s,
    # plus the cache.py "one JVM cache per (operator, input)" contract
    # went false). persist keeps the plan canonical -- repeat invocations
    # hit the materialized pair cache without recomputing -- and the base
    # cache is explicitly dropped the moment the pairs materialize.
    base = base.persist()
    banded = base.select(
        "id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> shiftright(bucket, b * {width}) & {mask})"
            )
        ).alias("band", "band_val"),
    )
    cand = (
        banded.select(F.col("id").alias("doc_a"), "band", "band_val")
        .join(
            banded.select(F.col("id").alias("doc_b"), "band", "band_val"),
            ["band", "band_val"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    side = base.select("id", "v", "__n")
    pairs = (
        cand.join(
            side.select(
                F.col("id").alias("doc_a"),
                F.col("v").alias("va"),
                F.col("__n").alias("__na"),
            ),
            "doc_a",
        )
        .join(
            side.select(
                F.col("id").alias("doc_b"),
                F.col("v").alias("vb"),
                F.col("__n").alias("__nb"),
            ),
            "doc_b",
        )
        .withColumn(
            "cos",
            F.round(
                (
                    _dot_seq_udf()(F.col("va"), F.col("vb"))
                    if use_arrow
                    else F.expr(th.sp_dot("va", "vb"))
                )
                / (F.col("__na") * F.col("__nb")),
                # F.round stays JVM-side either way: Spark HALF_UP, the
                # same rule the oracle's round() applies.
                6,
            ),
        )
        .where(F.col("cos") >= threshold)
        .select("doc_a", "doc_b", "cos")
    )
    # Materialize the (tiny) pair set, then drop the vector/bucket cache
    # (result-cache ownership: functions/cache.py).
    out = materialize_result(pairs, family="emb_pairs")
    base.unpersist()
    return out


# Self-contained worker pickling: these module-level functions cross the
# driver/worker boundary (Arrow/stateful UDFs). By default cloudpickle
# serializes them BY REFERENCE, so a Python worker spawned from a driver
# process with a foreign cwd (the round driver, notebooks) dies with
# ModuleNotFoundError on this package. Registering the module for
# by-value pickling ships the function bodies with the task instead --
# no sys.path assumptions on workers.
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover - ancient cloudpickle
    pass
