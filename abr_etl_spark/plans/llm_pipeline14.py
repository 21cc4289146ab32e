"""Round-14 LLM-pipeline additions.

- ``dedup_simhash_clusters``: the BOUNDED-output companion to
  dedup_simhash (r13 verdict item 6). The pair key's output is
  answer-bound -- this synthetic corpus's true near-dup pair count
  grows ~6x per data decade (8.47M pairs at sf1), so a 100 TB run
  wants the |clusters|-grain report instead: connected components over
  the hamming<=3 simhash pair graph, reported as the cluster-size
  census (cluster_size, n_clusters, n_docs) with the singleton
  complement -- O(|distinct sizes|) rows at ANY scale.

Reference parity: SURVEY.md §2.C (dedup reporting family); the
simhash twin of dedup_cluster_sizes (llm_pipeline5.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from abr_etl_spark.functions import texthash as th
from abr_etl_spark.operators import dedup
from abr_etl_spark.sources.lake import load_table

QUERIES: dict = {}
ORACLES: dict = {}

SIMHASH_MAX_HAMMING = 3  # dedup_simhash's radius (llm_pipeline.py)


def simhash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, canonical_id) over the hamming <=
    {SIMHASH_MAX_HAMMING} simhash pair graph: pairs come from the
    piece-multiprobe exact search's materialized result cache, the CC
    fixpoint runs ONCE per (session, sf_dir) through the session memo
    (jaccard_canonical's discipline), and the tiny result is persisted
    through the cache.py registry."""
    from abr_etl_spark.functions.cache import materialize_result, session_memo
    from abr_etl_spark.operators.graph import canonicalize_pairs

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        pairs = dedup.simhash_pairs(d, max_hamming=SIMHASH_MAX_HAMMING)
        return materialize_result(
            canonicalize_pairs(pairs), family="simhash_cc"
        )

    return session_memo(spark, "simhash_cc", sf_dir, build)


def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size census of the simhash near-dup graph:
    (cluster_size, n_clusters, n_docs), singleton complement included
    -- dedup_simhash's BOUNDED output mode. The pair list is
    answer-bound (~6x growth per decade on this corpus); the census is
    |distinct sizes| rows at any scale, so the 100 TB run reads THIS
    and only materializes pairs for clusters it decides to inspect.

    Determinism: component identity is the min doc_id (pinned);
    the census is pure integer counting -- the oracle recomputes the
    components with an independent recursive-CTE CC over the
    brute-force simhash pair graph.

    Scale shape: reuses the piece-multiprobe pair set (materialized
    result cache) and the memoized CC fixpoint (one run per
    session/sf); the census is two component-count-scale aggregates
    plus one 8-byte anti-join for the singleton count.

    Reference parity: SURVEY.md §2.C dedup reporting; the simhash twin
    of dedup_cluster_sizes (llm_pipeline5.py:255)."""
    d = load_table(spark, sf_dir, "documents")
    canon = simhash_canonical(spark, sf_dir)
    sizes = canon.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    census = sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )
    singles = (
        d.select("doc_id")
        .join(canon.select(F.col("doc_id")), "doc_id", "left_anti")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return census.unionByName(singles).orderBy("cluster_size")


QUERIES["dedup_simhash_clusters"] = dedup_simhash_clusters

_DK_TOK = th.dk_tokens("text")

#: unrolled CC rounds in the DuckDB oracle; each round is one
#: neighbor-min hop followed by one pointer jump, so the covered
#: propagation distance at least doubles per round -- 12 rounds
#: certify any component diameter <= 2^12, orders of magnitude past
#: any near-dup cluster. A convergence guard (below) makes an
#: undersized unroll a LOUD zero-row mismatch, never a silent wrong
#: census.
_CC_ROUNDS = 12


def _cc_round_ctes(rounds: int) -> str:
    """hop+jump CTE chain l0 -> l{rounds} for the oracle: the r14
    recursive-CTE reach materialized node x reachable-label pairs --
    quadratic in cluster size, oracle-bound at sf1 (8.5M edges, killed
    after ~2h) -- while this chain keeps every intermediate at
    |nodes| rows and scans sym once per round."""
    parts = []
    for i in range(1, rounds + 1):
        parts.append(f"""
    h{i} AS MATERIALIZED (
        SELECT node, min(label) AS label FROM (
            SELECT node, label FROM l{i - 1}
            UNION ALL
            SELECT s.a AS node, l.label
            FROM sym s JOIN l{i - 1} l ON l.node = s.b
        ) GROUP BY node
    ), l{i} AS MATERIALIZED (
        SELECT h1.node, h2.label
        FROM h{i} h1 JOIN h{i} h2 ON h1.label = h2.node
    )""")
    return ",".join(parts)


ORACLES["dedup_simhash_clusters"] = f"""
    WITH f AS MATERIALIZED (
        SELECT doc_id,
               {th.dk_simhash(th.dk_token_hashes(_DK_TOK))} AS simhash
        FROM documents
    ), pairs AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash))
              <= {SIMHASH_MAX_HAMMING}
    ), sym AS MATERIALIZED (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ), l0 AS MATERIALIZED (
        SELECT DISTINCT a AS node, a AS label FROM sym
    ), {_cc_round_ctes(_CC_ROUNDS)}
    , bad AS (
        SELECT count(*) AS n
        FROM sym s
        JOIN l{_CC_ROUNDS} x ON x.node = s.a
        JOIN l{_CC_ROUNDS} y ON y.node = s.b
        WHERE x.label <> y.label
    ), canon AS (
        SELECT node AS doc_id, label AS canonical_id
        FROM l{_CC_ROUNDS}
        WHERE (SELECT n FROM bad) = 0
    ), sizes AS (
        SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM canon GROUP BY canonical_id
    ), census AS (
        SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(cluster_size) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size
    ), singles AS (
        SELECT CAST(1 AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM canon c
                          WHERE c.doc_id = d.doc_id)
        HAVING count(*) > 0
    )
    SELECT * FROM census UNION ALL SELECT * FROM singles
    ORDER BY cluster_size
"""
