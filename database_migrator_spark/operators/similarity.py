"""Similarity search over embedding columns (SURVEY.md §2B E16).

Two tiers:
- brute-force top-k cosine — exact baseline; the query vector is a
  broadcast single row, so the scan side streams with zero shuffle and
  top-k is a TakeOrderedAndProject (per-partition heap), never a full sort.
- random-hyperplane LSH (SimHash-for-vectors) — the 100 TB path: bucket
  vectors by sign-pattern against fixed hyperplanes; a query probes its own
  bucket plus hamming-1 neighbors, turning O(N) scans into O(N/2^bits)
  bucket reads. Recall is verified against brute force in
  tests/test_similarity.py.

Hyperplanes are generated from a fixed seed and inlined as literal arrays
— data-independent, reproducible, no fitting step.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from database_migrator_spark.functions.exact import int_div
from database_migrator_spark.functions.vector import (
    cosine_similarity,
    dot,
    l2_dist_sq,
    l2_norm_sq,
)
from database_migrator_spark.plans.registry import query
from database_migrator_spark.scratch import scratch_dir
from database_migrator_spark.sources import spread_for_cpu, substrate, table

_DIM = 64
# SRP bucket-count tradeoff: 2^n_planes buckets should be ~N/100 so each
# bucket holds enough candidates; 4 planes suits the 500-row test corpus,
# 16+ planes (with more probes) a 100 TB one. On unclustered random
# vectors recall is modest by nature; real embedding corpora cluster,
# which is exactly what SRP exploits.
_N_PLANES = 4
_SEED = 42


def _hyperplanes(n_planes: int = _N_PLANES, dim: int = _DIM, seed: int = _SEED) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to the row with ``query_vec_id``."""
    q = embeddings.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__query_vec")
    )
    return (
        embeddings.where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("__query_vec")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: one bit per hyperplane
    (sign of the dot product), packed into a BIGINT."""
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0
        ).cast("long")
        * (1 << i)
        for i, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = _N_PLANES,
) -> DataFrame:
    """Approximate top-k: restrict the exact cosine scan to the query's SRP
    bucket and its hamming-1 neighbor buckets (multi-probe)."""
    planes = _hyperplanes(n_planes)
    bucketed = embeddings.withColumn("__bucket", srp_bucket(F.col(vec_col), planes))
    q = bucketed.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__query_vec"), F.col("__bucket").alias("__qb")
    )
    probes = F.array(
        F.col("__qb"), *[F.col("__qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    )
    return (
        bucketed.where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .where(F.array_contains(probes, F.col("__bucket")))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("__query_vec")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


@query(
    "q34_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 1)
    SELECT e.vec_id,
           list_reduce(list_transform(range(1, len(e.embedding) + 1),
                         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)),
                       (a, b) -> a + b)
           / sqrt(
               list_reduce(list_transform(range(1, len(e.embedding) + 1),
                             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                           (a, b) -> a + b)
               * list_reduce(list_transform(range(1, len(q.qe) + 1),
                             i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)),
                           (a, b) -> a + b)
             ) AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> 1
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("similarity", "ann", "E16"),
)
def q34_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 around vec_id=1. The oracle mirrors the
    exact fold order (left-to-right double adds, dot/sqrt(na*nb)) so sims
    are bit-identical across engines."""
    e = table(spark, sf_dir, "embeddings")
    return cosine_topk(e, query_vec_id=1, k=10)


@F.pandas_udf(T.DoubleType())
def _cosine_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine for the near-dup verify stage: numpy over
    whole batches, far faster than the interpreted higher-order-function
    fold. Used only on rows-only (non-hash-matched) paths — numpy's
    pairwise summation differs from the sequential fold in the last bits."""
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    num = (A * B).sum(axis=1)
    den = np.sqrt((A * A).sum(axis=1) * (B * B).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        out = np.where(den > 0, num / den, np.nan)
    return pd.Series(out)


def _estimated_rows(df: DataFrame, assumed_row_bytes: int) -> int:
    """Catalyst-estimated row count from plan statistics — free (no job):
    exact when table/column stats exist (ANALYZE TABLE), otherwise derived
    from file sizes via ``assumed_row_bytes``. Only suitable for sizing
    heuristics, never for correctness."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()  # noqa: SLF001
    rc = stats.rowCount()
    if rc.isDefined():
        return max(1, int(str(rc.get())))
    return max(1, int(str(stats.sizeInBytes())) // assumed_row_bytes)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector tier of the dedup
    family. SRP-bucket the vectors, generate candidate pairs only within a
    bucket (plus hamming-1 neighbor buckets via multi-probe explode), then
    verify exact cosine ≥ threshold. Near-identical vectors agree on every
    hyperplane sign with overwhelming probability, so recall at high
    thresholds is excellent while the candidate set stays ~N·bucket_size,
    never N²."""
    if n_planes is None:
        # size buckets to ~32 vectors: more planes on bigger corpora keeps
        # the candidate set ~N*bucket instead of quadratic-in-bucket blowup.
        # The row estimate comes from Catalyst plan statistics (table stats
        # / file sizes) — NO job is submitted during planning; at 100 TB an
        # exact count() here would be an extra full-table scan per call, so
        # callers wanting one must pass n_planes themselves.
        import math

        # ~16 vectors/bucket: measured faster than 32 (verify cost scales
        # with bucket², so smaller buckets beat fewer probes)
        n = _estimated_rows(embeddings, assumed_row_bytes=_DIM * 4)
        n_planes = min(16, max(4, round(math.log2(max(n, 32) / 16))))
    planes = _hyperplanes(n_planes)
    b = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
    )  # (checkpointing here measured slower — the bucket expr is cheap
    # relative to losing file-scan stats for the downstream join plan)
    # multi-probe: each vector also registers in its hamming-1 buckets so
    # borderline pairs split by one hyperplane still collide somewhere
    probes = b.select(
        "id",
        "vec",
        F.explode(
            F.array(
                F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
            )
        ).alias("bucket"),
    )
    left = b.select(
        F.col("bucket"), F.col("id").alias("a_id"), F.col("vec").alias("a_vec")
    )
    right = probes.select(
        F.col("bucket"), F.col("id").alias("b_id"), F.col("vec").alias("b_vec")
    )
    # No pair dedup needed: for an ordered pair (a, b) the probe masks
    # {0, 1<<0, ..., 1<<(n_planes-1)} are distinct, so bucket(b)^mask ==
    # bucket(a) holds for AT MOST ONE mask — every candidate pair is
    # generated exactly once (pinned by test_multiprobe_pairs_unique).
    # The former dropDuplicates shuffled the full candidate stream WITH
    # both vectors (the heavy-payload-exchange trap, r14 wave 4); now
    # candidates flow map-side from the bucket join into the verify.
    return (
        left.join(right, "bucket")
        .where(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", _cosine_batch(F.col("a_vec"), F.col("b_vec")))
        .where(F.col("cosine") >= threshold)
        .select("a_id", "b_id", "cosine")
    )


def _ivf_fit_frames(
    embeddings: DataFrame,
    n_clusters: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Fit seeded KMeans; return (vectors-with-cluster, centroids) frames.
    The indexing step of IVF — run once per table, not per query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("__v"),
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="__v", predictionCol="__cluster").fit(
        vecs
    )
    assigned = model.transform(vecs).select(
        F.col("__cluster").alias("cluster"), F.col(id_col), F.col(vec_col)
    )
    spark = embeddings.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, centroid array<double>",
    )
    return assigned, centroids


def _ivf_query(
    vectors: DataFrame,
    centroids: DataFrame,
    query_vec_id: int,
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Declarative IVF probe: nearest ``n_probe`` centroids by L2 feed a
    broadcast join against the cluster column — zero driver-side actions
    (no .first()/collect); on a cluster-partitioned index the broadcast
    join drives dynamic partition pruning, so only probe partitions are
    read. ``vectors`` must carry a ``cluster`` column."""
    q = vectors.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__query_vec")
    )
    d2 = (
        l2_norm_sq(F.col("centroid"))
        - 2 * dot(F.col("centroid"), F.col("__query_vec"))
        + l2_norm_sq(F.col("__query_vec"))
    )
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select("cluster", d2.alias("__d2"))
        .orderBy(F.col("__d2").asc(), F.col("cluster").asc())
        .limit(n_probe)
        .select("cluster")
    )
    return (
        vectors.join(F.broadcast(probe), "cluster")
        .where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine_similarity(F.col(vec_col), F.col("__query_vec")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_fit(
    embeddings: DataFrame,
    index_dir: str,
    n_clusters: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Build and PERSIST the IVF index next to the table: the vectors
    rewritten partitioned-by-cluster (the literal 'inverted file' — probe
    queries read only their partitions) plus a tiny centroids table.
    At 100 TB this runs once per ingest; queries amortize it."""
    assigned, centroids = _ivf_fit_frames(embeddings, n_clusters, seed, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(
        os.path.join(index_dir, "vectors")
    )
    centroids.write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    return index_dir


def ivf_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    query_vec_id: int,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF query against a persisted index written by :func:`ivf_fit`."""
    vectors = spark.read.parquet(os.path.join(index_dir, "vectors"))
    centroids = spark.read.parquet(os.path.join(index_dir, "centroids"))
    return _ivf_query(vectors, centroids, query_vec_id, k, n_probe, id_col, vec_col)


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Inline-fit IVF ANN (tests / one-off exploration ONLY — production
    uses :func:`ivf_fit` + :func:`ivf_topk_indexed` so the KMeans fit is
    a persisted artifact, not a per-query cost)."""
    assigned, centroids = _ivf_fit_frames(embeddings, n_clusters, seed, id_col, vec_col)
    return _ivf_query(assigned, centroids, query_vec_id, k, n_probe, id_col, vec_col)


@substrate("ivf", "embeddings")
def _ivf_index_cached(spark: SparkSession, sf_dir: str) -> str:
    """The declared query's persisted IVF index (16 clusters, seed 42),
    fitted once per session into a process scratch directory (removed at
    exit; dead processes' roots are swept — see ``scratch.py``) and reused
    by every invocation — the bench therefore measures the QUERY, with
    the fit amortized exactly as a persisted production index would be,
    and reports the one-time fit under ``ingest.ivf_fit``. A rewritten
    source table refits into the same directory (``ivf_fit`` overwrites);
    the memo records the path only after the fit returns, so a crash
    mid-fit leaves nothing that looks valid."""
    index_dir = scratch_dir("ivf_index", os.path.abspath(sf_dir))
    return ivf_fit(table(spark, sf_dir, "embeddings"), index_dir)


@query(
    "q53_ivf_topk",
    oracle=None,  # approximate; recall vs brute force asserted in
    # tests/test_similarity.py
    tags=("similarity", "ann", "ivf", "E16"),
)
def q53_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-10 around vec_id=1 through the persisted index (the "ivf"
    session substrate, amortized like a production index; seeded KMeans
    keeps results reproducible)."""
    index_dir = _ivf_index_cached(spark, sf_dir)
    return ivf_topk_indexed(spark, index_dir, query_vec_id=1, k=10)


@query(
    "q45_embedding_near_duplicates",
    oracle=None,  # SRP candidate generation is approximate; recall vs the
    # brute-force pair set is asserted in tests/test_similarity.py
    tags=("dedup", "similarity", "embedding", "E15", "E16"),
)
def q45_embedding_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.4 sits between the corpus p99.9 (~0.38) and max (~0.51)
    # pairwise cosine, so the demo yields a small non-empty pair set; real
    # dedup corpora would use 0.9+
    e = table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(e, threshold=0.4).orderBy("a_id", "b_id")


@query(
    "q46_embedding_pairs_exact_subset",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           list_reduce(list_transform(range(1, len(a.embedding) + 1),
                         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                       (x, y) -> x + y)
           / sqrt(
               list_reduce(list_transform(range(1, len(a.embedding) + 1),
                             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
                           (x, y) -> x + y)
               * list_reduce(list_transform(range(1, len(b.embedding) + 1),
                             i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                           (x, y) -> x + y)
             ) AS cosine
    FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ORDER BY a_id, b_id
    """,
    tags=("similarity", "embedding", "E16"),
)
def q46_embedding_pairs_exact_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine on a keyed subset — the verify stage the SRP
    candidates feed at scale, hash-matched against DuckDB (bit-identical
    fold, see functions/vector.py)."""
    e = table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 60)
    a = e.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            cosine_similarity(F.col("a_vec"), F.col("b_vec")).alias("cosine"),
        )
        .orderBy("a_id", "b_id")
    )


@query(
    "q92_embedding_centroids",
    oracle="""
    WITH ex AS (
        SELECT label, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
    )
    SELECT label,
           CAST(i - 1 AS BIGINT) AS pos,
           (CAST(CAST(SUM(CAST(round(CAST(emb[i] AS DOUBLE) * 1000000) AS BIGINT))
                      AS BIGINT) AS DOUBLE)
              / COUNT(*)) / CAST(1000000 AS DOUBLE) AS mean,
           COUNT(*) AS n_vecs
    FROM ex
    GROUP BY label, i
    ORDER BY label, pos
    """,
    tags=("similarity", "embedding", "centroid", "llm-pipeline"),
)
def q92_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (exact mean-pooling) — the building
    block of class prototypes, IVF coarse quantizers, and cluster-based
    data pruning. Dimensions posexplode into (label, pos) groups — ONE
    hash shuffle with map-side partial sums — and the per-dimension mean
    uses the integer-fixed-point pattern (round(x·1e6) summed as BIGINT)
    so the result is summation-order-independent and hash-matches DuckDB
    exactly; double sums would drift in the last bits across engines.
    Flat (label, pos, mean) output rather than re-assembled arrays keeps
    the driver compare dtype-stable."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding"))
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.sum(
                F.round(F.col("col").cast("double") * F.lit(1000000.0)).cast("long")
            ).alias("s"),
            F.count("*").alias("n_vecs"),
        )
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            (
                (F.col("s").cast("double") / F.col("n_vecs")) / F.lit(1000000.0)
            ).alias("mean"),
            "n_vecs",
        )
        .orderBy("label", "pos")
    )


@query(
    "q35_ann_lsh_topk",
    oracle=None,  # approximate by construction; recall vs brute force is
    # asserted in tests/test_similarity.py
    tags=("similarity", "ann", "lsh", "E16"),
)
def q35_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(e, query_vec_id=1, k=10)


@query(
    "q105_kmeans_inertia",
    oracle="""
    WITH ex AS (
        SELECT label, embedding AS emb,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings
    ), cent AS (
        SELECT label, i,
               (CAST(SUM(CAST(round(CAST(emb[i] AS DOUBLE) * 1000000) AS BIGINT))
                     AS DOUBLE) / COUNT(*)) / CAST(1000000 AS DOUBLE) AS mean
        FROM ex GROUP BY label, i
    ), carr AS (
        SELECT label, list(mean ORDER BY i) AS c FROM cent GROUP BY label
    ), sq AS (
        SELECT e.label,
               list_reduce(list_transform(range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c.c[i])),
                 (a, b) -> a + b) AS sqd
        FROM embeddings e JOIN carr c USING (label)
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(round(sqd * 1000000000) AS BIGINT)) AS DOUBLE)
             / CAST(1000000000 AS DOUBLE) AS inertia
    FROM sq
    GROUP BY label
    ORDER BY label
    """,
    tags=("similarity", "embedding", "clustering", "llm-pipeline"),
)
def q105_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label clustering inertia (within-cluster sum of squared
    distance to the exact per-label centroid) — the quality metric that
    tells an embedding-dedup/IVF pipeline whether its partitions are
    tight enough before trusting cluster-pruned search. Shape at scale:
    the q92 centroid aggregate (one (label, pos) shuffle, fixed-point
    exact), assembled into per-label arrays and joined back by BROADCAST
    (one row per label); each vector then computes its squared distance
    in a single left-to-right fold — bit-identical across engines
    because the centroid means are fixed-point-exact and both engines
    fold in index order — and the per-label sum uses round(sqd·1e9)
    BIGINTs, so the total is summation-order-independent and
    hash-matches."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding"))
    cent = ex.groupBy("label", "pos").agg(
        (
            (
                F.sum(
                    F.round(F.col("col").cast("double") * F.lit(1000000.0)).cast(
                        "long"
                    )
                ).cast("double")
                / F.count("*")
            )
            / F.lit(1000000.0)
        ).alias("mean")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))), lambda s: s["mean"]
        ).alias("c")
    )
    sqd = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("c"),
            lambda x, m: (x.cast("double") - m) * (x.cast("double") - m),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return (
        e.join(F.broadcast(carr), "label")
        .withColumn("sqd", sqd)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.sum(F.round(F.col("sqd") * F.lit(1000000000.0)).cast("long")).cast(
                    "double"
                )
                / F.lit(1000000000.0)
            ).alias("inertia"),
        )
        .orderBy("label")
    )


def semantic_dedup_kept(
    embeddings: DataFrame,
    threshold: float,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each cluster, a
    vector is dropped iff a LOWER-id vector in the same cluster has
    cosine similarity ≥ ``threshold`` with it (keep-lowest-id is the
    deterministic stand-in for keep-farthest-from-centroid). Returns
    the kept (cluster, id) rows.

    Scale shape: candidate pairs are generated ONLY within a cluster —
    the self-join shuffles both sides on the cluster key and the pair
    fan-out is Σ m_c², bounded by the clustering granularity (the same
    knob as the LSH bucket cap: more clusters ⇒ smaller m_c). Never an
    all-pairs N². Each side is L2-NORMALIZED before the join, so the
    per-pair work — the term that Σ m_c² multiplies — is a single
    zip_with+fold dot product instead of dot + two norms. The norm is
    computed in its OWN projection and the lambda divides by that scalar
    column: inlining ``l2_normalize`` here would re-evaluate the norm
    fold per ELEMENT (interpreted HOF lambdas cache nothing — O(d²) per
    vector, the CLAUDE.md fan-out trap), and the normalized frame is
    localCheckpointed because BOTH join sides read it (q127's shared-
    sketch pattern — otherwise the normalization runs twice per row).
    Division by the precomputed sqrt keeps the floats bit-identical to
    the oracle's ``x / nn``. Zero-norm vectors have no cosine (NULL
    before, filtered here): they pair with nothing and are always kept,
    unchanged semantics."""
    nrm = embeddings.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v0"),
        F.sqrt(l2_norm_sq(F.col(vec_col))).alias("__nn"),
    )
    normed = (
        nrm.where(F.col("__nn") > 0)
        .select(
            "__c",
            "__id",
            F.transform(
                F.col("__v0"), lambda x: x.cast("double") / F.col("__nn")
            ).alias("__e"),
        )
        .localCheckpoint(eager=True)
    )
    a = normed.select("__c", F.col("__id").alias("__u"), F.col("__e").alias("__ea"))
    b = normed.select("__c", F.col("__id").alias("__v"), F.col("__e").alias("__eb"))
    # SALTED pair join (the q246/q248 r14 shape): the cluster key alone
    # has few distinct values and tiny input bytes, so AQE coalesces the
    # join's read to ~1 task, which would generate every candidate pair
    # and run the interpreted dot fold serially. Salting the b side
    # (deterministic xxhash64 — retry-safe per guide §2.5) and exploding
    # the a side over the salt domain spreads pair generation and the
    # fold over clusters × npart reduce groups; each (u, v) pair still
    # meets exactly once (at v's salt), and the pair stream — which
    # carries both vectors — never crosses an exchange, only the
    # vector-scale inputs do.
    npart = embeddings.sparkSession.sparkContext.defaultParallelism
    b_s = b.withColumn("salt", F.pmod(F.xxhash64("__v"), F.lit(npart)).cast("int"))
    a_s = a.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(npart - 1))))
    dup_ids = (
        a_s.join(b_s.hint("shuffle_merge"), ["__c", "salt"])
        .where(F.col("__u") < F.col("__v"))
        .where(dot(F.col("__ea"), F.col("__eb")) >= F.lit(threshold))
        .select(F.col("__v"))
        .distinct()
    )
    return embeddings.join(
        dup_ids, embeddings[id_col] == dup_ids["__v"], "left_anti"
    ).select(cluster_col, id_col)


def semantic_cluster_stats(
    embeddings: DataFrame, cluster_col: str = "label"
) -> DataFrame:
    """Candidate-pair observability for semantic dedup: per-corpus
    (n_clusters, max cluster size, Σ m_c·(m_c−1)/2 candidate pairs).
    This is what a 100 TB run reads BEFORE launching q109 — if Σ pairs
    (or max m_c) is out of budget, re-cluster with larger k first; the
    same role bucket_cap_stats plays for the MinHash bands."""
    per = embeddings.groupBy(cluster_col).agg(F.count("*").alias("m"))
    return per.agg(
        F.count("*").alias("n_clusters"),
        F.max("m").alias("max_cluster"),
        F.sum((F.col("m") * (F.col("m") - 1)) / 2).cast("long").alias("n_cand_pairs"),
    )


@query(
    "q109_semantic_dedup",
    oracle="""
    WITH nrm AS (
        SELECT vec_id, label, embedding,
               sqrt(list_reduce(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (p, q) -> p + q)) AS nn
        FROM embeddings
    ), n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nn) AS e
        FROM nrm WHERE nn > 0
    ), dup AS (
        SELECT DISTINCT b.vec_id AS v
        FROM n a JOIN n b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_reduce(list_transform(range(1, len(a.e) + 1),
                i -> a.e[i] * b.e[i]),
                (x, y) -> x + y) >= 0.35
    )
    SELECT label, vec_id
    FROM embeddings
    WHERE vec_id NOT IN (SELECT v FROM dup)
    ORDER BY label, vec_id
    """,
    tags=("similarity", "dedup", "semdedup", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q109_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) deduplication, SemDeDup-style: drop a
    vector when a lower-id vector in the SAME cluster is more similar
    than the threshold; report the kept set. Clusters here are the
    ``label`` column (in production: k-means/IVF assignments — q92/q105
    compute exactly those); within-cluster pairing keeps the candidate
    set Σ m_c², never N². The 0.35 threshold sits in the tail of this
    RANDOM test corpus's similarity distribution (max ≈ 0.47) so the
    drop path is exercised; true embedding corpora use ≈ 0.95+, and the
    semantics are locked by synthetic-duplicate tests either way.
    Hash-exact because both engines normalize with the identical
    left-to-right fold + IEEE divide, then compare the identical dot
    fold against the threshold — bit-equal decisions (q34's pattern,
    one fold earlier)."""
    e = table(spark, sf_dir, "embeddings")
    return semantic_dedup_kept(e, threshold=0.35).orderBy("label", "vec_id")


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress each vector to M subspace codebook ids
# (here 8 codes × 4 bits = 4 bytes per 64-dim float vector, a 64× memory
# cut) — the standard layout for billion-scale ANN memories; search runs on
# codes via asymmetric distance (ADC) lookup tables.

@substrate("pq", "embeddings")
def pq_fit_cached(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Per-subspace KMeans codebooks (8 subspaces × 16 centroids, seed 42
    + subspace), a session substrate like the IVF index and the BPE merges
    — PQ training is ingest-time work a deployment runs once per corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    m, k = 8, 16
    e = table(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    dsub = dim // m

    def _fit(s: int) -> list[list[float]]:
        sub = e.select(
            array_to_vector(
                F.transform(
                    F.slice(F.col("embedding"), s * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                )
            ).alias("__v")
        )
        model = KMeans(k=k, seed=42 + s, featuresCol="__v").fit(sub)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # The m per-subspace fits are independent small jobs dominated by
    # per-iteration scheduling latency, so overlap them from a driver
    # thread pool (guide §2.6) — each fit's input partitioning and
    # seed are unchanged, so the centroids are bit-identical to the
    # former sequential loop; only the wall clock drops.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=8) as pool:
        return list(pool.map(_fit, range(m)))


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — nearest codebook centroid per subspace,
    ties to the lowest id. Arrow-batched numpy (the sanctioned Python
    seam for vector math): one argmin over a (batch × k) distance matrix
    per subspace, never a per-row Python call."""
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    C = [np.asarray(b, dtype=np.float64) for b in codebooks]  # (k, dsub) each

    def enc(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                xs = X[:, s * dsub : (s + 1) * dsub]
                # ||x - c||^2 = ||x||^2 - 2 x·c + ||c||^2; argmin over c
                d2 = (
                    -2.0 * xs @ C[s].T
                    + (C[s] ** 2).sum(axis=1)[None, :]
                )
                codes[:, s] = np.argmin(d2, axis=1)  # first index wins ties
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": [list(map(int, r)) for r in codes]}
            )

    return spread_for_cpu(embeddings).select(id_col, vec_col).mapInPandas(
        enc, schema=f"{id_col} bigint, codes array<int>"
    )


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec_id: int,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays a full vector, the
    corpus is only codes; distance ≈ Σ_s table_s[code_s] where table_s
    holds the query-to-centroid sub-distances (m × k floats — THE reason
    PQ search is memory-bound, not FLOP-bound, at billion scale). The
    lookup tables ship as literal arrays (bytes, not a join)."""
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    q = embeddings.where(F.col(id_col) == query_vec_id).first()[vec_col]
    import numpy as np

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    qv = np.asarray(list(q), dtype=np.float64)
    tables = []
    for s in range(m):
        C = np.asarray(codebooks[s], dtype=np.float64)
        d2 = ((qv[s * dsub : (s + 1) * dsub][None, :] - C) ** 2).sum(axis=1)
        tables.append([float(x) for x in d2])
    tab = F.array(*[F.array(*[F.lit(x) for x in t]) for t in tables])
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, s: F.struct(c.alias("c"), s.alias("s")),
        ),
        F.lit(0.0),
        lambda acc, cs: acc + F.element_at(F.element_at(tab, cs["s"] + 1), cs["c"] + 1),
    )
    return (
        codes.where(F.col(id_col) != query_vec_id)
        .select(id_col, adc.alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc(), F.col(id_col))
        .limit(topk)
    )


# Fixed closed-form PQ codebook for q144: m=8 subspaces × k=16 centroids ×
# dsub=8 dims, every value a small exact decimal ((j*5 + d*3 + s*7) % 17 - 8)
# / 20 ∈ [-0.4, 0.4] — the embedding value range. GIVEN fixed codebooks the
# encode step is exact (nearest centroid, ties to the lowest id), so the
# same literals inline into a DuckDB VALUES table and the whole encode path
# hash-matches — shrinking the untested-by-hash surface to the genuinely
# iterative codebook TRAINING (q117), mirroring how q107 inlines q106's
# merges.
_FIXED_PQ_M, _FIXED_PQ_K, _FIXED_PQ_DSUB = 8, 16, 8
FIXED_PQ_BOOKS: list[list[list[float]]] = [
    [
        [((j * 5 + d * 3 + s * 7) % 17 - 8) / 20.0 for d in range(_FIXED_PQ_DSUB)]
        for j in range(_FIXED_PQ_K)
    ]
    for s in range(_FIXED_PQ_M)
]


def _fixed_pq_books_sql() -> str:
    """The identical codebook as a DuckDB VALUES table (s, j, c)."""
    rows = []
    for s in range(_FIXED_PQ_M):
        for j in range(_FIXED_PQ_K):
            vals = ", ".join(repr(x) for x in FIXED_PQ_BOOKS[s][j])
            rows.append(f"({s}, {j}, [{vals}]::DOUBLE[])")
    return ",\n               ".join(rows)


@query(
    "q144_pq_encode_fixed",
    oracle=f"""
    WITH books(s, j, c) AS (
        VALUES {_fixed_pq_books_sql()}
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), sub AS (
        SELECT vec_id, b.s, b.j,
               list_reduce(list_transform(range(1, {_FIXED_PQ_DSUB} + 1),
                   i -> (v[b.s * {_FIXED_PQ_DSUB} + i] - b.c[i])
                        * (v[b.s * {_FIXED_PQ_DSUB} + i] - b.c[i])),
                   (x, y) -> x + y) AS d2
        FROM e CROSS JOIN books b
    ), best AS (
        SELECT vec_id, s, j FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, j) AS rn
            FROM sub
        ) WHERE rn = 1
    )
    SELECT vec_id,
           array_to_string(list(j ORDER BY s), '-') AS code_str
    FROM best
    GROUP BY vec_id
    ORDER BY vec_id
    """,
    tags=("similarity", "ann", "pq", "encode", "llm-pipeline"),
)
def q144_pq_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ENCODE hash-matched under fixed codebooks: run the real
    production encode path (``pq_encode``'s Arrow-batched numpy argmin)
    against the closed-form FIXED_PQ_BOOKS and emit each vector's code
    word. The oracle recomputes nearest-centroid per subspace from the
    identical literals; both argmins break ties to the lowest centroid
    id. Training stays rows-only by design (q117); this pins the encode
    semantics the ADC search path consumes."""
    e = table(spark, sf_dir, "embeddings")
    codes = pq_encode(e, FIXED_PQ_BOOKS)
    return codes.select(
        "vec_id",
        F.concat_ws("-", F.transform("codes", lambda c: c.cast("string"))).alias(
            "code_str"
        ),
    ).orderBy("vec_id")


@query(
    "q117_pq_compression",
    oracle=None,  # per-subspace KMeans is iterative (seeded MLlib) — not
    # SQL-expressible; quantization quality + determinism + ADC ranking
    # fidelity are asserted in tests/test_similarity.py instead
    bench=True,
    tags=("similarity", "ann", "pq", "compression", "llm-pipeline"),
)
def q117_pq_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization report: per subspace, the corpus mean squared
    reconstruction error vs the subspace's total variance (the
    variance-explained view of how much signal 4 bits keep), plus the
    achieved compression ratio. Codebooks are the cached ingest
    artifact; encoding is one Arrow-batched pass; the report aggregates
    (vec, subspace) residuals — fixed-point sums so reruns are
    order-independent."""
    import numpy as np

    books = pq_fit_cached(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    m = len(books)
    dsub = len(books[0][0])
    C = [np.asarray(b, dtype=np.float64) for b in books]

    def residuals(batches):
        for pdf in batches:
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = []
            for s in range(m):
                xs = X[:, s * dsub : (s + 1) * dsub]
                d2 = -2.0 * xs @ C[s].T + (C[s] ** 2).sum(axis=1)[None, :]
                code = np.argmin(d2, axis=1)
                err = ((xs - C[s][code]) ** 2).sum(axis=1)
                for v in err:
                    out.append((s, float(v)))
                for v in (xs**2).sum(axis=1):
                    out.append((s, -1.0 - float(v)))  # tagged ssq rows
            yield pd.DataFrame(out, columns=["subspace", "val"])

    raw = spread_for_cpu(e).select("embedding").mapInPandas(
        residuals, schema="subspace int, val double"
    )
    err = raw.where(F.col("val") >= 0)
    ssq = raw.where(F.col("val") < 0).withColumn("val", -(F.col("val") + 1.0))
    fp = lambda c: (F.sum(F.round(c * F.lit(1e9)).cast("long")).cast("double") / F.lit(1e9))
    stats = (
        err.groupBy("subspace")
        .agg(F.count("*").alias("n_vecs"), fp(F.col("val")).alias("sum_err"))
        .join(
            ssq.groupBy("subspace").agg(fp(F.col("val")).alias("sum_ssq")),
            "subspace",
        )
    )
    bits = int(np.ceil(np.log2(len(books[0]))))
    ratio = float(dsub * m * 32) / (m * bits)  # float32 dims vs code bits
    return stats.select(
        F.col("subspace").cast("long").alias("subspace"),
        "n_vecs",
        (F.col("sum_err") / F.col("n_vecs")).alias("mse"),
        (1.0 - F.col("sum_err") / F.col("sum_ssq")).alias("variance_explained"),
        F.lit(ratio).alias("compression_ratio"),
    ).orderBy("subspace")


_TRUNC_KS = (8, 16, 32)


@query(
    "q152_embedding_truncation_fidelity",
    oracle="""
    WITH pairs AS (
        SELECT list_transform(a.embedding, x -> CAST(x AS DOUBLE)) AS va,
               list_transform(b.embedding, x -> CAST(x AS DOUBLE)) AS vb
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ), ks(k) AS (VALUES (8), (16), (32)
    ), cs AS (
        SELECT k,
               list_reduce(list_transform(range(1, k + 1), i -> va[i] * vb[i]),
                           (x, y) -> x + y)
                 / sqrt(list_reduce(list_transform(range(1, k + 1), i -> va[i] * va[i]),
                                    (x, y) -> x + y)
                        * list_reduce(list_transform(range(1, k + 1), i -> vb[i] * vb[i]),
                                      (x, y) -> x + y)) AS cos_k,
               list_reduce(list_transform(range(1, 65), i -> va[i] * vb[i]),
                           (x, y) -> x + y)
                 / sqrt(list_reduce(list_transform(range(1, 65), i -> va[i] * va[i]),
                                    (x, y) -> x + y)
                        * list_reduce(list_transform(range(1, 65), i -> vb[i] * vb[i]),
                                      (x, y) -> x + y)) AS cos_full
        FROM pairs CROSS JOIN ks
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           SUM(CAST(ROUND(abs(cos_k - cos_full) * 1000000000) AS BIGINT)) / 1000000000.0
               / COUNT(*)                                   AS mean_abs_err,
           MAX(abs(cos_k - cos_full))                       AS max_abs_err
    FROM cs
    GROUP BY k
    ORDER BY k
    """,
    tags=("similarity", "embedding", "truncation", "matryoshka", "llm-pipeline"),
)
def q152_embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation fidelity report (the matryoshka-embedding
    question): how much does cosine similarity move when vectors are cut
    to their first k dims? Evaluated over the linear adjacent-id pair
    set (never N²): per k ∈ {8,16,32}, the mean (fixed-point, order-
    independent) and max absolute cosine error vs the full 64 dims —
    the evidence an index owner reads before storing truncated vectors.
    Both engines fold dot/norm left-to-right in double (q34's pattern),
    so every per-pair error is bit-identical and the report hash-matches."""
    from database_migrator_spark.functions.vector import cosine_similarity

    e = table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("aid"), F.col("embedding").alias("va"))
    b = e.select((F.col("vec_id") - 1).alias("aid"), F.col("embedding").alias("vb"))
    pairs = a.join(b, "aid").select("va", "vb")
    cos_full = cosine_similarity("va", "vb")
    # all k errors in ONE pass per pair row — a per-k unionByName would
    # re-derive the pair join per branch (measured 6 corpus scans). The
    # full-dim cosine is materialized as a COLUMN first so the
    # interpreted fold runs once per row, not once per k (the HOF
    # fan-out invariant).
    withf = pairs.withColumn("cf", cos_full)
    allk = withf.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.abs(
                            cosine_similarity(
                                F.slice("va", 1, k), F.slice("vb", 1, k)
                            )
                            - F.col("cf")
                        ).alias("err"),
                    )
                    for k in _TRUNC_KS
                ]
            )
        ).alias("r")
    ).select(F.col("r.k").alias("k"), F.col("r.err").alias("err"))
    return (
        allk.groupBy("k")
        .agg(
            F.count("*").alias("n_pairs"),
            (
                F.sum(F.round(F.col("err") * 1e9).cast("long")).cast("double")
                / F.lit(1e9)
                / F.count("*")
            ).alias("mean_abs_err"),
            F.max("err").alias("max_abs_err"),
        )
        .orderBy("k")
    )


_SQ8_SCALE = 0.005  # ≈ max|x|/127 for this corpus (|x| ≤ ~0.53); exact decimal
_SQ8_INV = 1.0 / _SQ8_SCALE  # 200.0, exactly representable


@query(
    "q153_int8_quantization_report",
    oracle=f"""
    WITH v AS (
        SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), qz AS (
        SELECT label, e,
               list_transform(e, x -> GREATEST(-127, LEAST(127,
                   CAST(round(x * {_SQ8_INV!r}) AS INT)))) AS q
        FROM v
    ), st AS (
        SELECT label,
               list_reduce(
                   list_transform(range(1, len(e) + 1),
                       i -> (e[i] - q[i] * {_SQ8_SCALE!r}) * (e[i] - q[i] * {_SQ8_SCALE!r})),
                   (x, y) -> x + y) / len(e) AS mse,
               -- parenthesized to match the engine's float association
               -- order exactly: Spark materializes d[i] = q[i]*scale and
               -- folds e[i]*(q[i]*scale) / (q[i]*scale)*(q[i]*scale); an
               -- unparenthesized (e·q)·s differs by an ulp per element
               -- and would flip the 1e-9 hash rounding near boundaries
               list_reduce(list_transform(range(1, len(e) + 1),
                       i -> e[i] * (q[i] * {_SQ8_SCALE!r})), (x, y) -> x + y)
                 / sqrt(list_reduce(list_transform(range(1, len(e) + 1),
                            i -> e[i] * e[i]), (x, y) -> x + y)
                        * list_reduce(list_transform(range(1, len(e) + 1),
                            i -> (q[i] * {_SQ8_SCALE!r}) * (q[i] * {_SQ8_SCALE!r})),
                            (x, y) -> x + y)) AS cosr
        FROM qz
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           SUM(CAST(ROUND(mse * 1000000000000) AS BIGINT)) / 1000000000000.0
               / COUNT(*) AS mean_mse,
           SUM(CAST(ROUND(cosr * 1000000000) AS BIGINT)) / 1000000000.0
               / COUNT(*) AS mean_cos,
           CAST(4.0 AS DOUBLE) AS bytes_ratio
    FROM st
    GROUP BY label
    ORDER BY label
    """,
    tags=("similarity", "embedding", "quantization", "int8", "llm-pipeline"),
)
def q153_int8_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization quality report — the cheapest tier of
    the embedding-compression ladder (4× vs float32; PQ/q117 is the 64×
    tier): per label, the mean reconstruction MSE and the mean cosine
    between original and reconstructed vectors under the corpus-wide
    symmetric scale. Runs the REAL ``functions.vector.quantize_int8 /
    dequantize_int8`` column expressions; the oracle replays the same
    clamp/round/rescale closed form, and fixed-point sums make the means
    order-independent, so the whole quantize→reconstruct→score chain is
    hash-verified."""
    from database_migrator_spark.functions.vector import (
        dequantize_int8,
        l2_norm_sq,
        quantize_int8,
    )

    e = table(spark, sf_dir, "embeddings")
    qz = e.select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        dequantize_int8(quantize_int8("embedding", _SQ8_SCALE), _SQ8_SCALE).alias("d"),
    )
    sq_err = F.aggregate(
        F.zip_with("e", "d", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dot_ed = F.aggregate(
        F.zip_with("e", "d", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    st = qz.select(
        "label",
        (sq_err / F.size("e")).alias("mse"),
        (dot_ed / F.sqrt(l2_norm_sq("e") * l2_norm_sq("d"))).alias("cosr"),
    )
    return (
        st.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.sum(F.round(F.col("mse") * 1e12).cast("long")).cast("double")
                / F.lit(1e12)
                / F.count("*")
            ).alias("mean_mse"),
            (
                F.sum(F.round(F.col("cosr") * 1e9).cast("long")).cast("double")
                / F.lit(1e9)
                / F.count("*")
            ).alias("mean_cos"),
            F.lit(4.0).alias("bytes_ratio"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n_vecs",
            "mean_mse",
            "mean_cos",
            "bytes_ratio",
        )
        .orderBy("label")
    )


# Fixed closed-form IVF centroids for q219: k=16 clusters × 64 dims, every
# value a small exact decimal ((j*5 + d*3) % 17 - 8) / 20 ∈ [-0.4, 0.4] —
# the embedding value range. GIVEN fixed centroids the assign step is exact
# (nearest centroid by L2, ties to the lowest cluster id), so the same
# literals inline into a DuckDB VALUES table and the whole incremental
# maintenance path hash-matches — q144's fixed-codebook trick applied to
# the IVF coarse quantizer (the genuinely iterative centroid TRAINING
# stays q53/q105's seeded-KMeans tier).
_FIXED_IVF_K, _FIXED_IVF_DIM = 16, 64
FIXED_IVF_CENTROIDS: list[list[float]] = [
    [((j * 5 + d * 3) % 17 - 8) / 20.0 for d in range(_FIXED_IVF_DIM)]
    for j in range(_FIXED_IVF_K)
]


def _fixed_ivf_centroids_sql() -> str:
    """The identical centroids as a DuckDB VALUES table (cluster, c)."""
    rows = []
    for j in range(_FIXED_IVF_K):
        vals = ", ".join(repr(x) for x in FIXED_IVF_CENTROIDS[j])
        rows.append(f"({j}, [{vals}]::DOUBLE[])")
    return ",\n               ".join(rows)


def _fixed_ivf_centroids_frame(spark: SparkSession) -> DataFrame:
    """FIXED_IVF_CENTROIDS as a DataFrame built from the closed form over
    ``spark.range`` — value-identical to the Python literals (integer
    arithmetic, then one exact double division by 20.0 — the same IEEE
    op Python used to produce them), but planned as a Range scan instead
    of the ``createDataFrame`` RDD that would trip the no-RDD-scan plan
    invariant."""
    return spark.range(_FIXED_IVF_K).select(
        F.col("id").cast("int").alias("cluster"),
        F.transform(
            F.sequence(F.lit(0), F.lit(_FIXED_IVF_DIM - 1)),
            lambda d: ((F.col("id") * 5 + d * 3) % 17 - 8).cast("double") / F.lit(20.0),
        ).alias("centroid"),
    )


def ivf_assign_fixed(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector to its nearest FIXED_IVF_CENTROIDS cluster by
    L2 (ties to the lowest cluster id) — the append-path coarse
    quantization of IVF maintenance. One broadcast of the 16-row
    centroid table, one exact-fold distance per (vector, centroid),
    min-of-struct argmin (no window, no shuffle beyond the groupBy).
    ``passthrough`` columns ride along the argmin key (q219 carries its
    old/new partition tag). Returns (*passthrough, id_col, cluster, d2)."""
    spark = vectors.sparkSession
    cents = _fixed_ivf_centroids_frame(spark)
    keys = [*passthrough, id_col]
    return (
        vectors.crossJoin(F.broadcast(cents))
        .select(
            *keys,
            F.col("cluster"),
            l2_dist_sq(F.col(vec_col), F.col("centroid")).alias("d2"),
        )
        .groupBy(*keys)
        .agg(F.min(F.struct("d2", "cluster")).alias("m"))
        .select(*keys, F.col("m.cluster").alias("cluster"), F.col("m.d2").alias("d2"))
    )


@query(
    "q219_ivf_index_append",
    oracle=f"""
    WITH cents(cluster, c) AS (
        VALUES {_fixed_ivf_centroids_sql()}
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), indexed AS (
        SELECT * FROM e WHERE vec_id % 4 <> 0
    ), batch AS (
        SELECT * FROM e WHERE vec_id % 2 = 0
    ), fresh AS (
        SELECT b.* FROM batch b
        LEFT JOIN indexed i USING (vec_id) WHERE i.vec_id IS NULL
    ), tagged AS (
        SELECT 'old' AS part, vec_id, v FROM indexed
        UNION ALL
        SELECT 'new' AS part, vec_id, v FROM fresh
    ), asg AS (
        SELECT part, vec_id, cluster,
               list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                   i -> (v[i] - c[i]) * (v[i] - c[i])),
                   (x, y) -> x + y) AS d2
        FROM tagged CROSS JOIN cents
    ), best AS (
        SELECT part, vec_id, cluster, d2 FROM (
            SELECT part, vec_id, cluster, d2,
                   row_number() OVER (PARTITION BY part, vec_id
                                      ORDER BY d2, cluster) AS rn
            FROM asg
        ) WHERE rn = 1
    ), st AS (
        SELECT cluster,
               CAST(SUM(CASE WHEN part = 'old' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_indexed,
               CAST(SUM(CASE WHEN part = 'new' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_appended,
               CAST(SUM(CASE WHEN part = 'new'
                             THEN CAST(ROUND(d2 * 1000000000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS sum9
        FROM best GROUP BY 1
    )
    SELECT CAST(cents.cluster AS BIGINT) AS cluster,
           COALESCE(n_indexed, 0) AS n_indexed,
           COALESCE(n_appended, 0) AS n_appended,
           COALESCE(n_indexed, 0) + COALESCE(n_appended, 0) AS n_total,
           CASE WHEN COALESCE(n_appended, 0) > 0
                THEN CAST(ROUND(CAST(sum9 AS DOUBLE) / n_appended) AS BIGINT)
                     / 1000000000.0
                ELSE 0.0 END AS mean_append_d2
    FROM cents LEFT JOIN st USING (cluster)
    ORDER BY cluster
    """,
    tags=("similarity", "ann", "ivf", "incremental", "llm-pipeline"),
)
def q219_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index MAINTENANCE — real pipelines append
    embeddings between periodic refits, they don't re-cluster 100 TB per
    batch: an existing index holds 3/4 of the corpus (vec_id % 4 != 0),
    a re-crawl batch arrives carrying half the corpus (vec_id % 2 == 0,
    half of it already indexed), and the maintenance pass (a) anti-joins
    the batch against the indexed ids so only genuinely-new vectors are
    touched (q97's incremental-ingest shape), (b) assigns each new
    vector to its nearest EXISTING centroid (fixed coarse quantizer —
    q144's fixed-codebook trick makes the whole path hash-matchable),
    and (c) reports the post-append index: per cluster, old count,
    appended count, total, and the mean L2² of appended vectors to
    their centroid — the drift signal that decides when a full refit is
    due. Per-row d2 is 1e-9 fixed-pointed to BIGINT before the sum so
    distributed summation order cannot move the mean (integer-cents
    discipline); the 16-row centroid table is the only broadcast; the
    anti join and the argmin groupBy are the only corpus-sized work.
    (The demo's 3 scans of `embeddings` exist only because indexed set
    and arriving batch are synthesized from ONE table by vec_id%k — in
    production they are different datasets, one scan each.)"""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    indexed = e.where(F.col("vec_id") % 4 != 0)
    batch = e.where(F.col("vec_id") % 2 == 0)
    fresh = batch.join(indexed.select("vec_id"), "vec_id", "left_anti")
    tagged = indexed.withColumn("part", F.lit("old")).unionByName(
        fresh.withColumn("part", F.lit("new"))
    )
    best = ivf_assign_fixed(tagged, passthrough=("part",)).select(
        "part", "cluster", "d2"
    )
    st = best.groupBy("cluster").agg(
        F.sum(F.when(F.col("part") == "old", 1).otherwise(0)).alias("n_indexed"),
        F.sum(F.when(F.col("part") == "new", 1).otherwise(0)).alias("n_appended"),
        F.sum(
            F.when(
                F.col("part") == "new",
                F.round(F.col("d2") * F.lit(1e9)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("sum9"),
    )
    spine = spark.range(_FIXED_IVF_K).select(F.col("id").cast("int").alias("cluster"))
    return (
        spine.join(st, "cluster", "left")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce("n_indexed", F.lit(0)).alias("n_indexed"),
            F.coalesce("n_appended", F.lit(0)).alias("n_appended"),
            (F.coalesce("n_indexed", F.lit(0)) + F.coalesce("n_appended", F.lit(0))).alias(
                "n_total"
            ),
            F.when(
                F.coalesce("n_appended", F.lit(0)) > 0,
                F.round(
                    F.col("sum9").cast("double") / F.col("n_appended").cast("double")
                ).cast("long")
                / F.lit(1e9),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_append_d2"),
        )
        .orderBy("cluster")
    )


@query(
    "q230_embedding_centroid_drift",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               vec_id % 2 = 0 AS is_new
        FROM embeddings
    ), ex AS (
        SELECT label, is_new, i AS dim,
               CAST(ROUND(v[i] * 1000000) AS BIGINT) AS v6
        FROM e, unnest(range(1, 65)) AS u(i)
    ), agg AS (
        SELECT label, is_new, dim,
               CAST(SUM(v6) AS BIGINT) AS s6, CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2, 3
    ), pair AS (
        SELECT a.label, a.dim,
               CAST(ROUND((CAST(a.s6 AS DOUBLE) / a.n / 1000000.0
                           - CAST(b.s6 AS DOUBLE) / b.n / 1000000.0)
                          * 1000000) AS BIGINT) AS d6,
               a.n AS n_new, b.n AS n_old
        FROM agg a JOIN agg b
          ON a.label = b.label AND a.dim = b.dim
         AND a.is_new AND NOT b.is_new
    )
    SELECT CAST(label AS BIGINT) AS label,
           MIN(n_old) AS n_old, MIN(n_new) AS n_new,
           CAST(ROUND(sqrt(CAST(CAST(SUM(d6 * d6) AS BIGINT) AS DOUBLE))
                      / 1000000.0 * 1000000000) AS BIGINT) / 1000000000.0
               AS centroid_shift_l2
    FROM pair
    GROUP BY label
    ORDER BY label
    """,
    tags=("similarity", "embedding", "drift", "monitoring", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q230_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DISTRIBUTION drift between ingest batches — the
    ML-monitoring read that decides when q53/q219's coarse quantizer
    needs refitting and whether a new crawl shifted the representation
    space: per label, the L2 distance between the old batch's centroid
    (vec_id odd) and the new batch's (vec_id even). Exactness contract:
    per-component values are 1e-6 fixed-pointed BEFORE summation (the
    q153 quantization discipline), so the per-(label, dim) component
    sums are exact BIGINTs regardless of row order; the per-dim mean
    delta is one deterministic double expression re-quantized to 1e-6,
    and the final Σd² over the 64 bounded dims is again an exact BIGINT
    — sqrt at the very end, 1e-9 rounded. Shape at scale: one
    posexplode to (label, batch, dim) rows (64 per vector) feeding one
    map-side-combinable sum — no joins of corpus-sized sides, the
    old/new pairing happens on the label×64-row aggregate."""
    e = table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_new"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "dim0", "x"
        ),
    )
    agg = e.select(
        "label",
        "is_new",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("x") * 1000000).cast("long").alias("v6"),
    ).groupBy("label", "is_new", "dim").agg(
        F.sum("v6").alias("s6"), F.count("*").alias("n")
    ).localCheckpoint(eager=True)  # bounded: labels x 2 x 64 rows; read by
    # BOTH pairing branches — without this Catalyst re-derives the
    # explode+aggregate pipeline (and re-scans the corpus) per side
    a = agg.where(F.col("is_new")).select(
        "label", "dim", F.col("s6").alias("s6_new"), F.col("n").alias("n_new")
    )
    b = agg.where(~F.col("is_new")).select(
        "label", "dim", F.col("s6").alias("s6_old"), F.col("n").alias("n_old")
    )
    d6 = F.round(
        (
            F.col("s6_new").cast("double") / F.col("n_new").cast("double") / F.lit(1000000.0)
            - F.col("s6_old").cast("double") / F.col("n_old").cast("double") / F.lit(1000000.0)
        )
        * 1000000
    ).cast("long")
    pair = a.join(b, ["label", "dim"]).select(
        "label", "n_old", "n_new", d6.alias("d6")
    )
    return (
        pair.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.min("n_old").alias("n_old"),
            F.min("n_new").alias("n_new"),
            (
                F.round(
                    F.sqrt(F.sum(F.col("d6") * F.col("d6")).cast("double"))
                    / F.lit(1000000.0)
                    * F.lit(1e9)
                ).cast("long")
                / F.lit(1e9)
            ).alias("centroid_shift_l2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q235/q236 — hash-gated twins of the ANN tier (fixed closed-form
# hyperplanes / the q219 fixed coarse quantizer make bucket assignment and
# probe-side top-k exact cross-engine; only the iterative KMeans TRAINING
# stays rows-only at q53/q105)
# ---------------------------------------------------------------------------

# Fixed closed-form SRP hyperplanes: 4 planes × 64 dims (q35's engine
# tier also uses 4 — one bucket per ~1/16 of the corpus, multi-probed),
# every weight ((p*p*13 + d*d*7 + p*d*11) % 19 - 9) / 10.0 ∈ [-0.9, 0.9]
# — integer arithmetic then ONE exact IEEE division, so the identical
# doubles inline into a DuckDB VALUES table (the q219 centroid recipe
# applied to q35's hyperplanes). The quadratic mixing matters: a LINEAR
# form (a·p + b·d) mod m makes every plane a cyclic shift of the same
# periodic pattern — near-degenerate planes, measured recall@10 of 0.
_SRP_FIXED_PLANES_N = 4
SRP_FIXED_PLANES: list[list[float]] = [
    [((p * p * 13 + d * d * 7 + p * d * 11) % 19 - 9) / 10.0 for d in range(_DIM)]
    for p in range(_SRP_FIXED_PLANES_N)
]


def _srp_fixed_planes_sql() -> str:
    """The identical hyperplanes as a DuckDB VALUES table (p, w)."""
    rows = []
    for p in range(_SRP_FIXED_PLANES_N):
        vals = ", ".join(repr(x) for x in SRP_FIXED_PLANES[p])
        rows.append(f"({p}, [{vals}]::DOUBLE[])")
    return ",\n               ".join(rows)


@query(
    "q235_srp_lsh_topk_portable",
    oracle=f"""
    WITH planes(p, w) AS (
        VALUES {_srp_fixed_planes_sql()}
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), bkt AS (
        SELECT e.vec_id,
               CAST(SUM(CASE WHEN list_reduce(
                                 list_transform(range(1, {_DIM} + 1),
                                                i -> e.v[i] * planes.w[i]),
                                 (x, y) -> x + y) > 0
                             THEN 1 << planes.p ELSE 0 END) AS BIGINT) AS bucket
        FROM e CROSS JOIN planes
        GROUP BY e.vec_id
    ), q AS (
        SELECT e.vec_id, bkt.bucket, e.v
        FROM e JOIN bkt USING (vec_id) WHERE e.vec_id = 1
    ), probes AS (
        SELECT bucket FROM q
        UNION ALL
        SELECT xor(q.bucket, CAST(1 << s.p AS BIGINT))
        FROM q CROSS JOIN (SELECT unnest(generate_series(0, {_SRP_FIXED_PLANES_N - 1})) AS p) s
    ), cand AS (
        SELECT e.vec_id, e.v, bkt.bucket
        FROM e JOIN bkt USING (vec_id)
        WHERE e.vec_id <> 1 AND bkt.bucket IN (SELECT bucket FROM probes)
    )
    SELECT c.vec_id, c.bucket,
           list_reduce(list_transform(range(1, {_DIM} + 1),
                         i -> c.v[i] * q.v[i]), (a, b) -> a + b)
           / sqrt(
               list_reduce(list_transform(range(1, {_DIM} + 1),
                             i -> c.v[i] * c.v[i]), (a, b) -> a + b)
               * list_reduce(list_transform(range(1, {_DIM} + 1),
                             i -> q.v[i] * q.v[i]), (a, b) -> a + b)
             ) AS sim
    FROM cand c, q
    ORDER BY sim DESC, c.vec_id
    LIMIT 10
    """,
    tags=("similarity", "ann", "lsh", "portable", "E16"),
)
def q235_srp_lsh_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated twin of q35: signed-random-projection LSH top-k with
    FIXED closed-form hyperplanes. q35 stays the engine tier (seeded
    numpy planes, recall-tested vs brute force); this twin swaps only
    the plane source — 8 planes whose weights are exact small decimals
    from integer arithmetic — so bucket assignment (sign of the same
    left-to-right IEEE dot fold), the multi-probe set (bucket XOR each
    single bit), the candidate set, and the final exact-cosine top-10
    (q34's bit-identical fold) all reproduce in DuckDB exactly.

    Shape at scale: bucket assignment is a per-row expression over one
    scan (the plane table is 8 literal rows folded into codegen), the
    query row broadcasts, and the probe filter prunes the corpus before
    any distance math — the same plan q35 runs, hash-verified here."""
    e = table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id",
        F.col("embedding").alias("v"),
        srp_bucket(F.col("embedding"), SRP_FIXED_PLANES).alias("bucket"),
    )
    q = bucketed.where(F.col("vec_id") == 1).select(
        F.col("v").alias("__query_vec"), F.col("bucket").alias("__qb")
    )
    probes = F.array(
        F.col("__qb"),
        *[F.col("__qb").bitwiseXOR(F.lit(1 << i)) for i in range(_SRP_FIXED_PLANES_N)],
    )
    return (
        bucketed.where(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .where(F.array_contains(probes, F.col("bucket")))
        .select(
            "vec_id",
            "bucket",
            cosine_similarity(F.col("v"), F.col("__query_vec")).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "q236_ivf_topk_portable",
    oracle=f"""
    WITH cents(cluster, c) AS (
        VALUES {_fixed_ivf_centroids_sql()}
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), asg AS (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY
                   list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                       i -> (v[i] - c[i]) * (v[i] - c[i])), (x, y) -> x + y),
                   cluster) AS rn
        FROM e CROSS JOIN cents
        QUALIFY rn = 1
    ), q AS (
        SELECT v FROM e WHERE vec_id = 1
    ), probe_cells AS (
        SELECT cents.cluster
        FROM cents, q
        ORDER BY list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                     i -> (q.v[i] - cents.c[i]) * (q.v[i] - cents.c[i])),
                     (x, y) -> x + y),
                 cents.cluster
        LIMIT 4
    )
    SELECT e.vec_id, CAST(asg.cluster AS BIGINT) AS cluster,
           list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
               i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i])), (x, y) -> x + y)
               AS d2
    FROM e
    JOIN asg USING (vec_id)
    JOIN probe_cells USING (cluster), q
    WHERE e.vec_id <> 1
    ORDER BY d2, e.vec_id
    LIMIT 10
    """,
    tags=("similarity", "ann", "ivf", "portable", "E16"),
)
def q236_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated twin of q53: IVF probe-side top-k against the FIXED
    coarse quantizer (q219's closed-form 16×64 centroid table). The
    inverted lists come from the exact argmin assignment q219 already
    hash-proved (nearest centroid by the same L2² fold, ties to the
    lowest cluster id); the query probes its 4 nearest cells (ordered
    by the query-to-centroid distance, same fold, same tiebreak) and
    scans ONLY those cells' vectors for the exact top-10 by L2² with
    vec_id tiebreak. Every float both engines compare is produced by
    the identical sequential IEEE fold, so cell membership, probe
    order, and the final ranking agree bit-for-bit. Only the KMeans
    TRAINING of a data-adaptive quantizer remains rows-only (q53/q105,
    recall-tested); the query path — the part that runs per-request at
    serving time — is now hash-verified.

    Shape at scale: assignment is one broadcast of the 16-row centroid
    table + min-of-struct argmin (no window over the corpus); the probe
    set is a 4-row broadcast semi-join that prunes the corpus to ~4/16
    before any query-distance math; top-k plans as
    TakeOrderedAndProject. A real deployment persists the assignment as
    the partition key (q53's ivf_fit does exactly that) so the probe
    semi-join becomes partition pruning."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    asg = ivf_assign_fixed(e, id_col="vec_id", vec_col="v").select("vec_id", "cluster")
    qv = e.where(F.col("vec_id") == 1).select(F.col("v").alias("__qv"))
    cents = _fixed_ivf_centroids_frame(spark)
    probe_cells = (
        cents.crossJoin(F.broadcast(qv))
        .select("cluster", l2_dist_sq(F.col("__qv"), F.col("centroid")).alias("dq"))
        .orderBy("dq", "cluster")
        .limit(4)
        .select("cluster")
    )
    return (
        e.where(F.col("vec_id") != 1)
        # the assignment table is corpus-sized — Catalyst's static stats
        # would broadcast it at test scale; pin the shuffle join (at 100 TB
        # the assignment is the persisted partition key instead, q53's
        # ivf_fit layout, and this join becomes partition pruning)
        .join(asg.hint("shuffle_merge"), "vec_id")
        .join(F.broadcast(probe_cells), "cluster", "left_semi")
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            l2_dist_sq(F.col("v"), F.col("__qv")).alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
    )


@query(
    "q263_lloyd_step_portable",
    oracle=f"""
    WITH cents(cluster, c) AS (
        VALUES {{CENTS}}
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), asg AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, cents.cluster,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                           i -> (v[i] - c[i]) * (v[i] - c[i])), (x, y) -> x + y),
                       cents.cluster) AS rn
            FROM e CROSS JOIN cents
        ) WHERE rn = 1
    ), dims AS (
        SELECT unnest(generate_series(0, {_FIXED_IVF_DIM} - 1)) AS d
    ), upd AS (
        SELECT a.cluster, dims.d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(e.v[dims.d + 1] * 1000000000) AS BIGINT))
                    AS BIGINT) AS sum9
        FROM e JOIN asg a USING (vec_id) CROSS JOIN dims
        GROUP BY 1, 2
    ), grid AS (
        SELECT cents.cluster, dims.d,
               CAST(ROUND(cents.c[dims.d + 1] * 1000000000) AS BIGINT) AS old9
        FROM cents CROSS JOIN dims
    )
    SELECT CAST(g.cluster AS BIGINT) AS cluster,
           CAST(g.d AS BIGINT) AS d,
           COALESCE(u.n, 0) AS n_assigned,
           CASE WHEN COALESCE(u.n, 0) > 0 THEN u.sum9 // u.n
                ELSE g.old9 END AS mean9,
           CASE WHEN COALESCE(u.n, 0) > 0 THEN (u.sum9 // u.n) - g.old9
                ELSE CAST(0 AS BIGINT) END AS shift9
    FROM grid g LEFT JOIN upd u USING (cluster, d)
    ORDER BY cluster, d
    """.replace("{CENTS}", _fixed_ivf_centroids_sql()),
    tags=("similarity", "ann", "kmeans", "training", "portable", "E16"),
)
def q263_lloyd_step_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated twin of the KMeans TRAINING step — the last rows-only
    evidence tier (q53/q105/q117's iterative fits) replayed as ONE exact
    Lloyd iteration. Assignment is the hash-proved fixed-quantizer
    argmin (q219/q236's exact L2² fold, ties to the lowest cluster id);
    the centroid UPDATE is computed in integer fixed point — each
    component rounds once to 1e-9 and the per-(cluster, dim) mean is an
    integer SUM followed by a truncating division (Spark ``div`` ==
    DuckDB ``//``, the signed-division invariant: component sums can be
    negative) — so both engines see bit-identical new centroids; empty
    clusters keep their old centroid (shift 0), the standard Lloyd
    convention, via the 16×64 grid LEFT JOIN (q184's absent-digit
    recipe). ``shift9`` is the signed per-component movement — the
    convergence signal a full training loop would threshold on.

    Shape at scale: the 16 closed-form centroids fold into the row
    expression as literals (q235's plane recipe), so assignment is pure
    per-row codegen over ONE corpus scan — no join, no window, no
    second lineage expansion; the update is one map-side-combinable
    groupBy onto a 1024-group domain (posexplode fans out 64 rows per
    vector but partial aggregation folds them to ≤1024 rows per
    partition before the shuffle); the grid join is bounded×bounded.
    A full fit is this step under the q110 iterate-with-localCheckpoint
    discipline. 2^53 exactness guarded in-plan (|x|<1 ⇒ the component
    sum stays exact up to ~4.5e6 corpus rows per cluster at 1e-9 grain;
    the guard fails the job loudly past it)."""
    from database_migrator_spark.functions.exact import exactness_guard

    e = spread_for_cpu(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # argmin over the 16 literal centroids as ONE fold (not 16 sibling
    # HOF transforms — interpreted lambdas fan out per sibling, the
    # CLAUDE.md accumulator rule): a constant array-of-(centroid, id)
    # structs, transformed once into (d2, cluster) structs via the same
    # exact L2² fold ivf_assign_fixed hash-proved, then array_min for
    # the lowest-id-tiebreak argmin
    cents_lit = F.array(
        *[
            F.struct(
                F.array(*[F.lit(x) for x in FIXED_IVF_CENTROIDS[j]]).alias("c"),
                F.lit(j).alias("cluster"),
            )
            for j in range(_FIXED_IVF_K)
        ]
    )
    dists = F.transform(
        cents_lit,
        lambda cj: F.struct(
            l2_dist_sq(F.col("v"), cj["c"]).alias("d2"),
            cj["cluster"].alias("cluster"),
        ),
    )
    comp = (
        e.select(F.array_min(dists)["cluster"].alias("cluster"), "v")
        .select("cluster", F.posexplode("v").alias("d", "x"))
        .select(
            "cluster",
            F.col("d").cast("long").alias("d"),
            F.round(F.col("x") * F.lit(1e9)).cast("long").alias("x9"),
        )
    )
    upd = (
        comp.groupBy("cluster", "d")
        .agg(F.count("*").cast("long").alias("n"), F.sum("x9").alias("sum9"))
        .where(
            exactness_guard(
                F.abs(F.col("sum9").cast("double")) < F.lit(4.5e15),
                "q263: component sum exceeds the 2^53 exactness bound",
            )
        )
    )
    cents = _fixed_ivf_centroids_frame(spark)
    grid = cents.select(
        "cluster", F.posexplode("centroid").alias("d", "cold")
    ).select(
        "cluster",
        F.col("d").cast("long").alias("d"),
        F.round(F.col("cold") * F.lit(1e9)).cast("long").alias("old9"),
    )
    mean9 = F.expr("sum9 div n")  # truncating ÷ == DuckDB // (signed sums)
    return (
        # upd is bounded by the 16×64 group domain — broadcast is safe
        grid.join(F.broadcast(upd), ["cluster", "d"], "left")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "d",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_assigned"),
            F.when(F.col("n") > 0, mean9).otherwise(F.col("old9")).alias("mean9"),
            F.when(F.col("n") > 0, mean9 - F.col("old9"))
            .otherwise(F.lit(0).cast("long"))
            .alias("shift9"),
        )
        .orderBy("cluster", "d")
    )


@query(
    "q246_margin_bitext_mining",
    oracle=f"""
    WITH cents(cluster, c) AS (
        VALUES {{CENTS}}
    ), nrm AS (
        SELECT vec_id, label % 2 AS side,
               sqrt(list_reduce(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (p, q) -> p + q)) AS nn,
               embedding
        FROM embeddings
    ), n AS (
        SELECT vec_id, side,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nn) AS e
        FROM nrm WHERE nn > 0
    ), asg AS (
        SELECT vec_id, side, e, cluster FROM (
            SELECT n.vec_id, n.side, n.e, cents.cluster,
                   row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_reduce(list_transform(
                           range(1, {{DIM}} + 1),
                           i -> (e[i] - c[i]) * (e[i] - c[i])),
                           (x, y) -> x + y), cents.cluster) AS rn
            FROM n CROSS JOIN cents
        ) WHERE rn = 1
    ), pairs AS (
        SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
               CAST(ROUND(list_reduce(list_transform(
                   range(1, {{DIM}} + 1),
                   i -> a.e[i] * b.e[i]), (x, y) -> x + y)
                   * 1000000000000) AS BIGINT) AS cos_fp
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.side = 0 AND b.side = 1
    ), dax AS (
        SELECT a_id, CAST(SUM(cos_fp) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS den_a
        FROM (SELECT a_id, cos_fp,
                     row_number() OVER (PARTITION BY a_id
                                        ORDER BY cos_fp DESC, b_id) AS rn
              FROM pairs) WHERE rn <= 4
        GROUP BY 1
    ), dby AS (
        SELECT b_id, CAST(SUM(cos_fp) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS den_b
        FROM (SELECT b_id, cos_fp,
                     row_number() OVER (PARTITION BY b_id
                                        ORDER BY cos_fp DESC, a_id) AS rn
              FROM pairs) WHERE rn <= 4
        GROUP BY 1
    ), scored AS (
        SELECT p.a_id, p.b_id, p.cos_fp,
               CAST(2 * p.cos_fp AS DOUBLE) / (dax.den_a + dby.den_b)
                   AS margin
        FROM pairs p JOIN dax USING (a_id) JOIN dby USING (b_id)
        WHERE dax.den_a + dby.den_b > 0
    ), besta AS (
        SELECT a_id, b_id FROM (
            SELECT a_id, b_id,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY margin DESC, b_id) AS rn
            FROM scored) WHERE rn = 1
    ), bestb AS (
        SELECT a_id, b_id FROM (
            SELECT a_id, b_id,
                   row_number() OVER (PARTITION BY b_id
                                      ORDER BY margin DESC, a_id) AS rn
            FROM scored) WHERE rn = 1
    )
    SELECT s.a_id, s.b_id,
           CAST(s.cos_fp AS DOUBLE) / 1000000000000.0 AS cosine,
           CAST(ROUND(s.margin * 1000000000) AS BIGINT) / 1000000000.0
               AS margin
    FROM scored s JOIN besta USING (a_id, b_id) JOIN bestb USING (a_id, b_id)
    ORDER BY margin DESC, a_id LIMIT 20
    """.replace("{CENTS}", _fixed_ivf_centroids_sql()).replace(
        "{DIM}", str(_FIXED_IVF_DIM)
    ),
    tags=("similarity", "bitext-mining", "margin", "alignment", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q246_margin_bitext_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, the
    CCMatrix/LASER recipe): treat label parity as two 'languages',
    score cross-side candidates by RATIO margin — cosine divided by the
    mean of each endpoint's top-4 neighborhood cosines — and keep only
    MUTUAL best matches. The margin criterion is what separates true
    translation pairs from hubness artifacts that raw cosine top-1
    cannot (a hub scores high against everything, so its margin ≈ 1);
    mined pairs are the seed corpus for multilingual training data.

    Scale shape: candidates are generated ONLY within a fixed-coarse-
    quantizer cell (q219's closed-form centroids — in production the
    trained IVF assignment), so the pair fan-out is Σ m_a·m_b per cell,
    never N²; the normalized+assigned frame is checkpointed and
    self-joined shuffle-merge; the k-NN denominators are two
    id-partitioned rank-4 windows over the SAME checkpointed pair
    table (3 consumers, built once). Determinism: cosines are 1e-12
    fixed-point BIGINTs (identical fold + IEEE ops), denominators are
    TRUNCATING integer-divided means (Spark ``div`` == DuckDB ``//``,
    sign-safe), margins divide exact integers, and every selection
    window carries an id tiebreak."""
    e = spread_for_cpu(table(spark, sf_dir, "embeddings"))
    nrm = e.select(
        "vec_id",
        (F.col("label") % 2).alias("side"),
        F.col("embedding").alias("v0"),
        F.sqrt(l2_norm_sq("embedding")).alias("nn"),
    )
    normed = nrm.where(F.col("nn") > 0).select(
        "vec_id",
        "side",
        F.transform(F.col("v0"), lambda x: x.cast("double") / F.col("nn")).alias(
            "e"
        ),
    )
    asg = ivf_assign_fixed(normed, vec_col="e", passthrough=("side", "e")).select(
        "vec_id", "side", "e", "cluster"
    )
    asg = asg.localCheckpoint(eager=True)  # both pair sides read it
    a = asg.where(F.col("side") == 0).select(
        "cluster", F.col("vec_id").alias("a_id"), F.col("e").alias("ea")
    )
    b = asg.where(F.col("side") == 1).select(
        "cluster", F.col("vec_id").alias("b_id"), F.col("e").alias("eb")
    )
    # SALTED pair join: the cluster key alone has K=16 values and tiny
    # input bytes, so AQE coalesces the join's read to ~1 task — which
    # would then generate EVERY pair and run the interpreted 64-dim dot
    # fold serially.  Salting the b side (deterministic xxhash64 — the
    # guide's retry-safe synthetic key) and exploding the a side over
    # the salt domain spreads pair GENERATION and the fold over
    # K × npart reduce groups, with only the vector-scale inputs ever
    # crossing an exchange — the pair stream itself (which at scale
    # carries both 64-dim vectors per row) never does.  (A first draft
    # repartitioned the JOINED pair stream instead; the 10× probe
    # showed the AQE-coalesced join task then serially wrote the
    # pair-with-vectors exchange — strictly worse at sf1.)
    npart = spark.sparkContext.defaultParallelism
    b_s = b.withColumn(
        "salt", F.pmod(F.xxhash64("b_id"), F.lit(npart)).cast("int")
    )
    a_s = a.withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(npart - 1))),
    )
    pairs = (
        a_s.join(b_s.hint("shuffle_merge"), ["cluster", "salt"])
        .select(
            "a_id",
            "b_id",
            F.round(dot(F.col("ea"), F.col("eb")) * F.lit(1e12))
            .cast("long")
            .alias("cos_fp"),
        )
        .localCheckpoint(eager=True)  # 3 consumers: dax, dby, scored
    )
    from pyspark.sql import Window

    wa = Window.partitionBy("a_id").orderBy(F.col("cos_fp").desc(), "b_id")
    wb = Window.partitionBy("b_id").orderBy(F.col("cos_fp").desc(), "a_id")
    # Mean of the top-4 cosines via TRUNCATING integer division (Spark
    # SQL ``div``), matching DuckDB ``//`` — NOT functions.exact.int_div,
    # which floors and would diverge on a negative top-4 sum (possible
    # when an anchor's best cross-side cosines are all negative); the
    # q183 signed-fixed-point precedent.
    dax = (
        pairs.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") <= 4)
        .groupBy("a_id")
        .agg(F.sum("cos_fp").alias("s"), F.count("*").alias("c"))
        .select("a_id", F.expr("s div c").alias("den_a"))
    )
    dby = (
        pairs.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= 4)
        .groupBy("b_id")
        .agg(F.sum("cos_fp").alias("s"), F.count("*").alias("c"))
        .select("b_id", F.expr("s div c").alias("den_b"))
    )
    scored = (
        pairs.join(dax.hint("shuffle_merge"), "a_id")
        .join(dby.hint("shuffle_merge"), "b_id")
        .where(F.col("den_a") + F.col("den_b") > 0)
        .select(
            "a_id",
            "b_id",
            "cos_fp",
            (
                (F.lit(2) * F.col("cos_fp")).cast("double")
                / (F.col("den_a") + F.col("den_b"))
            ).alias("margin"),
        )
        .localCheckpoint(eager=True)  # besta, bestb, final join
    )
    wma = Window.partitionBy("a_id").orderBy(F.col("margin").desc(), "b_id")
    wmb = Window.partitionBy("b_id").orderBy(F.col("margin").desc(), "a_id")
    besta = (
        scored.withColumn("rn", F.row_number().over(wma))
        .where(F.col("rn") == 1)
        .select("a_id", "b_id")
    )
    bestb = (
        scored.withColumn("rn", F.row_number().over(wmb))
        .where(F.col("rn") == 1)
        .select("a_id", "b_id")
    )
    return (
        scored.join(besta.hint("shuffle_merge"), ["a_id", "b_id"])
        .join(bestb.hint("shuffle_merge"), ["a_id", "b_id"])
        .select(
            "a_id",
            "b_id",
            (F.col("cos_fp").cast("double") / F.lit(1e12)).alias("cosine"),
            (F.round(F.col("margin") * F.lit(1e9)).cast("long") / F.lit(1e9)).alias(
                "margin"
            ),
        )
        .orderBy(F.col("margin").desc(), "a_id")
        .limit(20)
    )


@query(
    "q248_hard_negative_mining",
    oracle=f"""
    WITH cents(cluster, c) AS (
        VALUES {{CENTS}}
    ), nrm AS (
        SELECT vec_id, label,
               sqrt(list_reduce(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (p, q) -> p + q)) AS nn,
               embedding
        FROM embeddings
    ), n AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE) / nn) AS e
        FROM nrm WHERE nn > 0
    ), asg AS (
        SELECT vec_id, label, e, cluster FROM (
            SELECT n.vec_id, n.label, n.e, cents.cluster,
                   row_number() OVER (PARTITION BY n.vec_id
                       ORDER BY list_reduce(list_transform(
                           range(1, {{DIM}} + 1),
                           i -> (e[i] - c[i]) * (e[i] - c[i])),
                           (x, y) -> x + y), cents.cluster) AS rn
            FROM n CROSS JOIN cents
        ) WHERE rn = 1
    ), pairs AS (
        SELECT a.vec_id AS a_id, a.label AS a_lab,
               b.vec_id AS b_id, b.label AS b_lab,
               CAST(ROUND(list_reduce(list_transform(
                   range(1, {{DIM}} + 1),
                   i -> a.e[i] * b.e[i]), (x, y) -> x + y)
                   * 1000000000000) AS BIGINT) AS cos_fp
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
    ), pos AS (
        SELECT a_id, b_id AS pos_id, cos_fp AS pos_fp FROM (
            SELECT a_id, b_id, cos_fp,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY cos_fp DESC, b_id) AS rn
            FROM pairs WHERE a_lab = b_lab) WHERE rn = 1
    ), neg AS (
        SELECT a_id, b_id AS neg_id, cos_fp AS neg_fp, rn AS neg_rank FROM (
            SELECT a_id, b_id, cos_fp,
                   row_number() OVER (PARTITION BY a_id
                                      ORDER BY cos_fp DESC, b_id) AS rn
            FROM pairs WHERE a_lab <> b_lab) WHERE rn <= 3
    )
    SELECT p.a_id AS anchor_id, p.pos_id,
           CAST(g.neg_rank AS BIGINT) AS neg_rank, g.neg_id,
           CAST(p.pos_fp AS DOUBLE) / 1000000000000.0 AS pos_cos,
           CAST(g.neg_fp AS DOUBLE) / 1000000000000.0 AS neg_cos,
           CASE WHEN g.neg_fp >= p.pos_fp THEN 'hard'
                WHEN g.neg_fp > p.pos_fp - 200000000000 THEN 'semi_hard'
                ELSE 'easy' END AS tier
    FROM pos p JOIN neg g USING (a_id)
    ORDER BY anchor_id, neg_rank
    """.replace("{CENTS}", _fixed_ivf_centroids_sql()).replace(
        "{DIM}", str(_FIXED_IVF_DIM)
    ),
    tags=("similarity", "hard-negatives", "contrastive", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q248_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive embedding training (the FaceNet /
    sentence-transformers recipe): for every anchor, its POSITIVE is the
    most-similar same-label in-cell neighbor and its top-3 NEGATIVES are
    the most-similar different-label in-cell neighbors, each graded
    'hard' (scores above the positive — an active margin violation),
    'semi_hard' (within the 0.2 cosine margin — FaceNet's sweet spot:
    informative but not label-noise-suspect) or 'easy'. Random negatives
    make contrastive losses collapse; this mined set IS the training
    data an embedding-model pipeline feeds back into itself.

    Scale shape: candidates are generated ONLY within a fixed-coarse-
    quantizer cell (Σ m_c² fan-out, never N² — in production the trained
    IVF assignment, and hard negatives are by definition nearby, so cell
    locality loses only easy pairs); the assigned frame is checkpointed
    and self-joined shuffle-merge; the checkpointed pair table feeds the
    positive and negative rank windows; the pos⋈neg join of two
    unbounded derived tables stays pinned shuffle-merge. Determinism:
    1e-12 fixed-point cosines (identical folds), id tiebreaks on both
    rank windows, margin compared in exact BIGINT fixed point."""
    e = spread_for_cpu(table(spark, sf_dir, "embeddings"))
    nrm = e.select(
        "vec_id",
        "label",
        F.col("embedding").alias("v0"),
        F.sqrt(l2_norm_sq("embedding")).alias("nn"),
    )
    normed = nrm.where(F.col("nn") > 0).select(
        "vec_id",
        "label",
        F.transform(F.col("v0"), lambda x: x.cast("double") / F.col("nn")).alias(
            "e"
        ),
    )
    asg = ivf_assign_fixed(normed, vec_col="e", passthrough=("label", "e")).select(
        "vec_id", "label", "e", "cluster"
    )
    asg = asg.localCheckpoint(eager=True)  # both self-join sides read it
    a = asg.select(
        "cluster",
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_lab"),
        F.col("e").alias("ea"),
    )
    b = asg.select(
        "cluster",
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_lab"),
        F.col("e").alias("eb"),
    )
    # salted pair join — same shape and rationale as q246: spread pair
    # generation + the interpreted dot fold over K × npart reduce
    # groups without ever exchanging the pair-with-vectors stream
    npart = spark.sparkContext.defaultParallelism
    b_s = b.withColumn(
        "salt", F.pmod(F.xxhash64("b_id"), F.lit(npart)).cast("int")
    )
    a_s = a.withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(npart - 1))),
    )
    pairs = (
        a_s.join(b_s.hint("shuffle_merge"), ["cluster", "salt"])
        .where(F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "a_lab",
            "b_id",
            "b_lab",
            F.round(dot(F.col("ea"), F.col("eb")) * F.lit(1e12))
            .cast("long")
            .alias("cos_fp"),
        )
        .localCheckpoint(eager=True)  # consumers: pos branch, neg branch
    )
    from pyspark.sql import Window

    w = Window.partitionBy("a_id").orderBy(F.col("cos_fp").desc(), "b_id")
    pos = (
        pairs.where(F.col("a_lab") == F.col("b_lab"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("a_id", F.col("b_id").alias("pos_id"), F.col("cos_fp").alias("pos_fp"))
    )
    neg = (
        pairs.where(F.col("a_lab") != F.col("b_lab"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "a_id",
            F.col("b_id").alias("neg_id"),
            F.col("cos_fp").alias("neg_fp"),
            F.col("rn").cast("long").alias("neg_rank"),
        )
    )
    return (
        pos.join(neg.hint("shuffle_merge"), "a_id")
        .select(
            F.col("a_id").alias("anchor_id"),
            "pos_id",
            "neg_rank",
            "neg_id",
            (F.col("pos_fp").cast("double") / F.lit(1e12)).alias("pos_cos"),
            (F.col("neg_fp").cast("double") / F.lit(1e12)).alias("neg_cos"),
            F.when(F.col("neg_fp") >= F.col("pos_fp"), F.lit("hard"))
            .when(
                F.col("neg_fp") > F.col("pos_fp") - F.lit(200_000_000_000),
                F.lit("semi_hard"),
            )
            .otherwise(F.lit("easy"))
            .alias("tier"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


# ---------------------------------------------------------------------------
# q269 — embedding ingest QA: norm screen with exact integer Tukey fences
# ---------------------------------------------------------------------------


@query(
    "q269_embedding_norm_screen",
    oracle=f"""
    WITH base AS (
        SELECT label,
               CAST(ROUND(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b) * 10000) AS BIGINT) AS n4
        FROM embeddings
    ), hist AS (
        SELECT n4, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist
    ), cum AS (
        SELECT n4, CAST(SUM(c) OVER (ORDER BY n4
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cm
        FROM hist
    ), f AS (
        SELECT q1, q3,
               q1 - (3 * (q3 - q1)) // 2 AS lo,
               q3 + (3 * (q3 - q1)) // 2 AS hi
        FROM (
            SELECT (SELECT MIN(n4) FROM cum, tot WHERE cm >= (tot.n + 3) // 4)
                       AS q1,
                   (SELECT MIN(n4) FROM cum, tot
                    WHERE cm >= (3 * tot.n + 3) // 4) AS q3
        )
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE n4 < f.lo) AS BIGINT) AS n_below,
           CAST(COUNT(*) FILTER (WHERE n4 > f.hi) AS BIGINT) AS n_above,
           CAST(MIN(n4) AS BIGINT) AS min_n4,
           CAST(MAX(n4) AS BIGINT) AS max_n4,
           f.q1 AS q1_4, f.q3 AS q3_4, f.lo AS lo4, f.hi AS hi4
    FROM base, f
    GROUP BY label, f.q1, f.q3, f.lo, f.hi
    ORDER BY label
    """,
    tags=("similarity", "embedding", "quality", "outliers", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q269_embedding_norm_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding ingest QA — the norm screen an indexing pipeline runs
    BEFORE q53/q236 trust cosine geometry: near-zero norms make cosine
    meaningless and huge norms are encoder/ingest faults (truncated
    buffers, wrong dtype), so per label this reports how many vectors
    fall outside exact Tukey fences (Q1/Q3 ± 1.5·IQR) of the corpus-wide
    ||v||² distribution. Everything is integer-exact and sort-free:
    ||v||² uses the bit-identical left-to-right IEEE fold (the
    functions/vector.py determinism note), rounds ONCE to 1e-4 grain,
    and the quartiles are order statistics of the cumulative
    VALUE-DOMAIN-BOUNDED histogram (≤ ~230k cells at 64 dims regardless
    of corpus size — the q240 cents-histogram precedent, so the one
    single-partition window runs over a bounded derived table, never
    the corpus); rank = ceil(N/4) / ceil(3N/4), fences in integer 1e-4
    units (IQR·3//2 — non-negative, floor==truncate on both engines).

    Scale shape: ONE corpus scan computes (label, n4) into a 16-byte-row
    checkpoint feeding both the histogram and the per-label counts; the
    fence frame is a 1-row broadcast."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    base = e.select(
        "label",
        F.round(l2_norm_sq(F.col("embedding")) * F.lit(10000.0))
        .cast("long")
        .alias("n4"),
    ).localCheckpoint(eager=True)  # one scan/HOF pass; two consumers
    hist = base.groupBy("n4").agg(F.count("*").alias("c"))
    tot = hist.agg(F.sum("c").alias("n"))
    cum = hist.select(
        "n4",
        F.sum("c")
        .over(Window.orderBy("n4").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cm"),
    )
    q1 = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cm") >= int_div(F.col("n") + 3, F.lit(4)))
        .agg(F.min("n4").alias("q1"))
    )
    q3 = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.col("cm") >= int_div(F.lit(3) * F.col("n") + 3, F.lit(4)))
        .agg(F.min("n4").alias("q3"))
    )
    iqr32 = int_div(F.lit(3) * (F.col("q3") - F.col("q1")), F.lit(2))
    fences = (
        q1.crossJoin(F.broadcast(q3))
        .select(
            "q1",
            "q3",
            (F.col("q1") - iqr32).alias("lo"),
            (F.col("q3") + iqr32).alias("hi"),
        )
        .localCheckpoint(eager=True)  # 1 row
    )
    return (
        base.crossJoin(F.broadcast(fences))
        .groupBy("label", "q1", "q3", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("n4") < F.col("lo")).cast("long")).alias("n_below"),
            F.sum((F.col("n4") > F.col("hi")).cast("long")).alias("n_above"),
            F.min("n4").alias("min_n4"),
            F.max("n4").alias("max_n4"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            "n",
            "n_below",
            "n_above",
            "min_n4",
            "max_n4",
            F.col("q1").alias("q1_4"),
            F.col("q3").alias("q3_4"),
            F.col("lo").alias("lo4"),
            F.col("hi").alias("hi4"),
        )
        .orderBy("label")
    )


# --- q276: power-iteration step on the embedding second-moment matrix -------
#
# Fixed-point grain for the spectral step: v4 = round(v·1e4) keeps every
# per-row product v4_i · (Σ_j v4_j) under ~2.4e9 and the per-dim corpus
# sums exact BIGINTs far inside int64 (|v4| ≤ ~6e3 at 64 dims).
_POWER_FP = 10_000


@query(
    "q276_power_iteration_step",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {_POWER_FP}) AS BIGINT)
                   AS v4
        FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ), rowdot AS (
        SELECT vec_id, SUM(v4) AS dot FROM v GROUP BY vec_id
    ), y AS (
        SELECT v.i - 1 AS dim,
               CAST(SUM(v.v4 * r.dot) AS BIGINT) AS y_fp,
               CAST(SUM(v.v4) AS BIGINT) AS s4
        FROM v JOIN rowdot r ON v.vec_id = r.vec_id
        GROUP BY v.i
    ), m AS (
        SELECT MAX(ABS(y_fp)) AS ymax FROM y
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           s4,
           y_fp / 100000000.0 AS y,
           CAST(y_fp AS DOUBLE) / CAST(m.ymax AS DOUBLE) AS y_unit
    FROM y, m
    ORDER BY dim
    """,
    tags=("similarity", "spectral", "power-iteration", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q276_power_iteration_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One POWER-ITERATION step y = A·x on the corpus second-moment
    matrix A = Σ v vᵀ of the embedding table, from the deterministic
    all-ones start vector — the kernel inside every spectral method
    (top principal direction, spectral norm estimation, PCA warm-start).
    The 64×64 matrix is NEVER materialized: the rank-1 identity
    (Σ v vᵀ)·x = Σ v·(vᵀx) turns the step into ONE corpus scan — a
    per-row fixed-point dot fold, a posexplode, and a 64-group map-side-
    combinable aggregate (no joins except the 1-row max broadcast). All
    sums are exact BIGINTs at the 1e4 grain (per-row products ≤ 2.4e9,
    well under the 2^53 double-exactness bound, guarded), so y and the
    max-normalized direction hash bit-for-bit. The per-dim column sum s4
    is reported alongside — the 'mean direction' x amplifies first."""
    from database_migrator_spark.functions.exact import exactness_guard

    e = table(spark, sf_dir, "embeddings")
    v4 = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _POWER_FP, 0).cast("long"),
    )
    rows = e.select(
        "vec_id",
        v4.alias("v4arr"),
    ).select(
        "vec_id",
        "v4arr",
        F.aggregate("v4arr", F.lit(0).cast("long"), lambda a, x: a + x).alias("dot"),
    )
    y = (
        rows.select(F.posexplode("v4arr").alias("dim", "v4"), F.col("dot"))
        .groupBy("dim")
        .agg(
            F.sum(F.col("v4") * F.col("dot")).alias("y_fp"),
            F.sum("v4").alias("s4"),
        )
        .where(
            exactness_guard(
                F.abs(F.col("y_fp")).cast("double") < F.lit(float(2**53)),
                "q276: y_fp must stay inside the double-exact range",
            )
        )
        .localCheckpoint(eager=True)  # 64 rows; the max frame re-reads it
    )
    m = y.agg(F.max(F.abs(F.col("y_fp"))).alias("ymax"))
    return (
        y.crossJoin(F.broadcast(m))
        .select(
            F.col("dim").cast("long").alias("dim"),
            "s4",
            (F.col("y_fp") / F.lit(100000000.0)).alias("y"),
            (F.col("y_fp").cast("double") / F.col("ymax").cast("double")).alias(
                "y_unit"
            ),
        )
        .orderBy("dim")
    )


# --- q284: IVF recall-vs-nprobe curve ---------------------------------------
#
# Probe levels for the tuning curve; 16 = every cell of the fixed
# quantizer, i.e. exact brute force — the built-in ground truth row.
_RECALL_LEVELS = (1, 2, 4, 8, 16)
_RECALL_QUERIES = 5  # vec_id 1..5
_RECALL_K = 10
_RECALL_CHUNKS = 32  # two-level top-k fan-in


@query(
    "q284_ivf_recall_curve",
    oracle=f"""
    WITH cents(cluster, c) AS (
        VALUES {{CENTS}}
    ), e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), asg AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, cents.cluster,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                           i -> (v[i] - c[i]) * (v[i] - c[i])), (x, y) -> x + y),
                       cents.cluster) AS rn
            FROM e CROSS JOIN cents
        ) WHERE rn = 1
    ), qs AS (
        SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {_RECALL_QUERIES}
    ), prank AS (
        SELECT qid, cluster,
               row_number() OVER (PARTITION BY qid ORDER BY
                   list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                       i -> (qv[i] - c[i]) * (qv[i] - c[i])), (x, y) -> x + y),
                   cluster) AS cr
        FROM qs CROSS JOIN cents
    ), cand AS (
        SELECT q.qid, e.vec_id, p.cr,
               list_reduce(list_transform(range(1, {_FIXED_IVF_DIM} + 1),
                   i -> (e.v[i] - q.qv[i]) * (e.v[i] - q.qv[i])), (x, y) -> x + y)
                   AS d2
        FROM e
        JOIN asg a USING (vec_id)
        JOIN qs q ON e.vec_id <> q.qid
        JOIN prank p ON p.qid = q.qid AND p.cluster = a.cluster
    ), lv AS (
        SELECT unnest(ARRAY{list(_RECALL_LEVELS)}) AS L
    ), top AS (
        SELECT qid, L, vec_id FROM (
            SELECT c.qid, lv.L, c.vec_id,
                   row_number() OVER (PARTITION BY c.qid, lv.L
                                      ORDER BY c.d2, c.vec_id) AS rn
            FROM cand c JOIN lv ON c.cr <= lv.L
        ) WHERE rn <= {_RECALL_K}
    ), truth AS (
        SELECT qid, vec_id FROM top WHERE L = 16
    ), hits AS (
        SELECT t.L, CAST(COUNT(*) AS BIGINT) AS hits
        FROM top t JOIN truth tr ON t.qid = tr.qid AND t.vec_id = tr.vec_id
        GROUP BY t.L
    ), cellcnt AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM asg GROUP BY cluster
    ), scanned AS (
        SELECT lv.L, CAST(SUM(cc.n) AS BIGINT) AS n_scanned
        FROM prank p JOIN cellcnt cc USING (cluster) JOIN lv ON p.cr <= lv.L
        GROUP BY lv.L
    )
    SELECT CAST(s.L AS BIGINT) AS nprobe, s.n_scanned, h.hits,
           CAST(h.hits AS DOUBLE)
               / CAST({_RECALL_K} * {_RECALL_QUERIES} AS DOUBLE) AS mean_recall
    FROM scanned s JOIN hits h ON s.L = h.L
    ORDER BY nprobe
    """.replace("{CENTS}", _fixed_ivf_centroids_sql()),
    tags=("similarity", "ann", "ivf", "recall", "evaluation"),
    checkpointed_substrate=True,
)
def q284_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF TUNING CURVE — recall@{_RECALL_K} and vectors scanned as a
    function of nprobe, the measurement that picks a serving config
    (q53/q236 answer one query at one nprobe; this sweeps the knob):
    for {_RECALL_QUERIES} fixed queries, each probe level L ∈
    {_RECALL_LEVELS} ranks only the vectors whose fixed-quantizer cell
    is among the query's L nearest cells; L = 16 covers every cell and
    IS the exact brute-force truth, so recall is measured against a row
    the same plan produces. Per-(query, L) top-{_RECALL_K} uses the
    TWO-LEVEL top-k (chunked partial top-k in parallel windows, then a
    bounded merge — never a corpus-wide single-partition rank);
    candidates carry their cell rank once, so all levels share one
    distance computation. Scanned counts come from the bounded
    (query, cell) rank × cell-size frames — no second corpus pass."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    asg = (
        ivf_assign_fixed(e, id_col="vec_id", vec_col="v")
        .select("vec_id", "cluster")
        .localCheckpoint(eager=True)  # assignment computed once, reused 2x
    )
    qs = e.where(F.col("vec_id") < _RECALL_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cents = _fixed_ivf_centroids_frame(spark)
    from pyspark.sql import Window

    w_pr = Window.partitionBy("qid").orderBy("dq", "cluster")
    prank = (
        cents.crossJoin(F.broadcast(qs))
        .select(
            "qid", "cluster", l2_dist_sq(F.col("qv"), F.col("centroid")).alias("dq")
        )
        .select("qid", "cluster", F.row_number().over(w_pr).alias("cr"))
        .localCheckpoint(eager=True)  # 16 x queries rows; reused 2x
    )
    cand = (
        e.join(asg.hint("shuffle_merge"), "vec_id")
        .crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("qid"))
        .join(F.broadcast(prank), ["qid", "cluster"])
        .select(
            "qid",
            "vec_id",
            "cr",
            l2_dist_sq(F.col("v"), F.col("qv")).alias("d2"),
        )
    )
    lvls = F.array(*[F.lit(x) for x in _RECALL_LEVELS])
    leveled = cand.select(
        "qid",
        "vec_id",
        "d2",
        F.explode(F.filter(lvls, lambda L: L >= F.col("cr"))).alias("L"),
    )
    chunk = F.pmod(F.col("vec_id"), F.lit(_RECALL_CHUNKS)).alias("chunk")
    w1 = Window.partitionBy("qid", "L", "chunk").orderBy("d2", "vec_id")
    w2 = Window.partitionBy("qid", "L").orderBy("d2", "vec_id")
    top = (
        leveled.select("qid", "vec_id", "d2", "L", chunk)
        .withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= _RECALL_K)  # bounded: chunks x k per (qid, L)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _RECALL_K)
        .select("qid", "L", "vec_id")
        .localCheckpoint(eager=True)  # truth slice + hit join share it
    )
    truth = top.where(F.col("L") == 16).select(
        F.col("qid").alias("tqid"), F.col("vec_id").alias("tv")
    )
    hits = (
        top.join(
            F.broadcast(truth),
            (F.col("qid") == F.col("tqid")) & (F.col("vec_id") == F.col("tv")),
        )
        .groupBy("L")
        .agg(F.count("*").alias("hits"))
    )
    cellcnt = asg.groupBy("cluster").agg(F.count("*").alias("n"))
    scanned = (
        prank.join(F.broadcast(cellcnt), "cluster")
        .select("qid", "cr", "n", F.explode(F.filter(lvls, lambda L: L >= F.col("cr"))).alias("L"))
        .groupBy("L")
        .agg(F.sum("n").alias("n_scanned"))
    )
    return (
        scanned.join(F.broadcast(hits), "L")
        .select(
            F.col("L").cast("long").alias("nprobe"),
            "n_scanned",
            "hits",
            (
                F.col("hits").cast("double")
                / F.lit(float(_RECALL_K * _RECALL_QUERIES))
            ).alias("mean_recall"),
        )
        .orderBy("nprobe")
    )


# --- q300: greedy k-center coreset selection ---------------------------------

_KC_K = 6  # centers; the oracle unrolls exactly this many stages


def _kcenter_oracle() -> str:
    """Unrolled (non-recursive) k-stage SQL replaying the EXACT greedy
    schedule: stage i picks argmax-min-distance (ties to the smaller
    vec_id), then relaxes every vector's min-distance against the new
    center.  Unrolling beats a recursive CTE here because each stage
    needs an ORDER BY ... LIMIT 1 argmax, which the recursive grammar
    disallows; _KC_K is small and fixed, so the text stays bounded."""
    def d2(a: str, b: str) -> str:
        return (
            f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        )

    ctes = [
        """q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS e
        FROM embeddings
    )""",
        "c1 AS (SELECT vec_id AS c_id, e AS ce FROM q ORDER BY vec_id LIMIT 1)",
        f"m1 AS (SELECT q.vec_id, q.e, {d2('q.e', 'c1.ce')} AS mind FROM q, c1)",
        "r1 AS (SELECT 1 AS rnd, c1.c_id, CAST(MAX(m1.mind) AS BIGINT)"
        " AS radius_sq_fp FROM m1, c1 GROUP BY c1.c_id)",
    ]
    for i in range(2, _KC_K + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS (SELECT vec_id AS c_id, e AS ce FROM m{p}"
            f" ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"m{i} AS (SELECT m{p}.vec_id, m{p}.e, LEAST(m{p}.mind,"
            f" {d2(f'm{p}.e', f'c{i}.ce')}) AS mind FROM m{p}, c{i})"
        )
        ctes.append(
            f"r{i} AS (SELECT {i} AS rnd, c{i}.c_id, CAST(MAX(m{i}.mind)"
            f" AS BIGINT) AS radius_sq_fp FROM m{i}, c{i} GROUP BY c{i}.c_id)"
        )
    union = " UNION ALL ".join(f"SELECT * FROM r{i}" for i in range(1, _KC_K + 1))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT rnd AS round, c_id AS center_vec_id, radius_sq_fp,
           CAST(radius_sq_fp AS DOUBLE) / 1000000000000.0 AS radius_sq
    FROM ({union})
    ORDER BY round"""
    )


@query(
    "q300_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("similarity", "coreset", "k-center", "diversity", "llm-pipeline"),
    checkpointed_substrate=True,
)
def q300_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy K-CENTER coreset selection (Gonzalez's farthest-first
    2-approximation) — the diverse-subset-selection step of embedding
    curation, a different GOAL from everything in the clustering family
    (q92/q105/q263 minimize inertia, q109 removes redundancy, q248
    mines hard negatives): pick {_KC_K} vectors that MAXIMIZE coverage —
    each round adds the vector farthest from every chosen center
    (argmax of min-distance, ties to the smaller vec_id) and reports
    the covering radius, the quantity the 2-approx guarantee bounds.

    A FIFTH iterative shape: argmax-SELECTION (the state is a chosen
    SET plus per-point min-distances), vs frontier BFS (q147),
    min-label contraction (q72), linear recurrence (q110), min-plus
    relaxation (q296).  Per round: ONE broadcast of the single new
    center row, a 64-dim exact-integer squared-L2 fold per vector
    (quantized 1e6 fixed point -> diffs^2 sum <= 2.6e14, double- AND
    int64-exact), a TakeOrdered(1) argmax, and a max-aggregate radius
    — the node-scale min-distance frame localCheckpoints per round
    (the q110/q252 discipline).  The oracle unrolls the same {_KC_K}
    stages as plain CTEs (argmax needs ORDER BY/LIMIT, which recursive
    grammar disallows).  Radii are exact BIGINTs, monotonically
    non-increasing by construction (the unit test asserts it)."""
    emb = spread_for_cpu(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * F.lit(1000000.0)).cast("long"),
        ).alias("e"),
    )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    seed = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("c_id"), F.col("e").alias("ce"))
        .localCheckpoint(eager=True)
    )
    mind = (
        emb.crossJoin(F.broadcast(seed))
        .select("vec_id", "e", d2(F.col("e"), F.col("ce")).alias("mind"))
        .localCheckpoint(eager=True)  # node-scale state, re-read per round
    )
    rounds = [
        seed.crossJoin(mind.agg(F.max("mind").alias("radius_sq_fp"))).select(
            F.lit(1).cast("long").alias("round"),
            F.col("c_id").alias("center_vec_id"),
            "radius_sq_fp",
        )
    ]
    for i in range(2, _KC_K + 1):
        nxt = (
            mind.orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .select(F.col("vec_id").alias("c_id"), F.col("e").alias("ce"))
            .localCheckpoint(eager=True)
        )
        mind = (
            mind.crossJoin(F.broadcast(nxt))
            .select(
                "vec_id",
                "e",
                F.least(F.col("mind"), d2(F.col("e"), F.col("ce"))).alias("mind"),
            )
            .localCheckpoint(eager=True)
        )
        rounds.append(
            nxt.crossJoin(mind.agg(F.max("mind").alias("radius_sq_fp"))).select(
                F.lit(i).cast("long").alias("round"),
                F.col("c_id").alias("center_vec_id"),
                "radius_sq_fp",
            )
        )
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.select(
        "round",
        "center_vec_id",
        "radius_sq_fp",
        (F.col("radius_sq_fp").cast("double") / F.lit(1e12)).alias("radius_sq"),
    ).orderBy("round")
