"""Similarity search over the ``embeddings`` table (vec_id BIGINT,
embedding ARRAY<FLOAT> dim=64, label INT) — BASELINE.json's
"similarity search" operator family.

Two paths, as SURVEY.md §7 step 5 prescribes:

- ``similarity_cosine_topk`` — brute-force exact top-k: every query
  vector against the whole corpus. Scale shape: Q broadcast query
  vectors x N corpus rows, dot products inside whole-stage codegen,
  then one shuffle of only the per-partition top-k survivors
  (window row_number over query_id). The baseline any ANN variant is
  measured against.

- ``similarity_ann_lsh`` (canonical, multi-table OR-construction) —
  12 independent 6-plane random-hyperplane tables with Hamming-1
  multiprobe; candidates are the union of collisions, then exact
  cosine re-rank. Recall@10 0.95 on this deliberately hard
  near-random corpus. The hyperplane weights are md5-derived
  integers — fixed, reproducible, embedded identically in the Spark
  plan and the oracle SQL. At 100 TB: #planes grows with corpus
  (buckets ~ N/target bucket size), bucketing is one cheap scan +
  equi-join shuffle on bucket id; recall is traded for never
  touching all N per query.

- ``similarity_ann_lsh_baseline`` — the single-table single-probe
  variant (4 planes, 16 buckets, recall@10 0.15 here): kept as the
  pedagogy/ablation baseline the multi-probe/multi-table variants
  are measured against. Not a production path — pick the canonical
  name for real answers.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_analytics_demo_spark.functions import hashing as H
from kinesis_analytics_demo_spark.functions import vectors as V
from kinesis_analytics_demo_spark.plans.registry import register
from kinesis_analytics_demo_spark.session import read_table as _t

DIM = 64
N_QUERIES = 10  # query set: vec_id < 10
TOP_K = 10
N_PLANES = 4  # 16 buckets; scale with corpus size


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic integer weight in [-1000, 1000] from md5 — same
    literal lands in both engines' plans."""
    h = hashlib.md5(f"plane{plane}_{dim}".encode()).hexdigest()
    return int(h[:15], 16) % 2001 - 1000


PLANES: list[list[int]] = [
    [_plane_weight(p, j) for j in range(DIM)] for p in range(N_PLANES)
]


def _bucket_expr(emb_col):
    """LSH bucket id: sign bits of the 4 integer-plane projections."""
    bucket = F.lit(0)
    for p, weights in enumerate(PLANES):
        w = F.array(*[F.lit(float(x)) for x in weights])
        proj = V.dot(emb_col, w)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def _sql_bucket(emb: str) -> str:
    parts = []
    for p, weights in enumerate(PLANES):
        wlist = "[" + ", ".join(f"{x}.0" for x in weights) + "]"
        proj = (
            f"list_sum([CAST({emb}[i] AS DOUBLE) * ({wlist})[i] "
            f"for i in generate_series(1, {DIM})])"
        )
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


@register(
    "udf_vector_norms",
    oracle=f"""
    SELECT vec_id,
           sqrt({V.sql_dot('embedding', 'embedding', DIM)}) AS l2_norm
    FROM embeddings
    """,
    doc="UDF surface (SURVEY §2 U1): an Arrow-vectorized pandas_udf "
    "registered via spark.udf.register and invoked through spark.sql "
    "— LTR f64 accumulation keeps it bit-identical to the JVM fold "
    "and the DuckDB oracle.",
)
def udf_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.functions.udfs import register_udfs

    register_udfs(spark)
    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("emb_udf")
    return spark.sql("SELECT vec_id, vector_norm(embedding) AS l2_norm FROM emb_udf")


@register(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {V.sql_cosine('e.embedding', 'q.qv', DIM)} AS sim
        FROM embeddings e, q
        WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="Brute-force exact cosine top-k: 10 query vectors vs the whole "
    "corpus, rank ties broken by neighbor id (deterministic).",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


NPROBE = 2


@register(
    "similarity_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT min(vec_id) AS cid FROM embeddings GROUP BY label
    ),
    centv AS (
        SELECT c.cid, e.embedding AS cv
        FROM cent c JOIN embeddings e ON e.vec_id = c.cid
    ),
    assign AS (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {V.sql_cosine('e.embedding', 'c.cv', DIM)} DESC, c.cid)
                   AS crank
        FROM embeddings e, centv c
    ),
    lists AS (SELECT vec_id, embedding, cid FROM assign WHERE crank = 1),
    qprobe AS (
        SELECT vec_id AS query_id, embedding AS qv, cid
        FROM assign WHERE vec_id < {N_QUERIES} AND crank <= {NPROBE}
    ),
    sims AS (
        SELECT q.query_id, l.vec_id AS neighbor_id,
               {V.sql_cosine('l.embedding', 'q.qv', DIM)} AS sim
        FROM lists l JOIN qprobe q ON l.cid = q.cid
        WHERE l.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="ANN via IVF (inverted-file) coarse quantization: one "
    "deterministic representative per label cluster as centroid, "
    "nearest-centroid assignment, queries probe their nprobe=2 "
    "nearest lists and exact-re-rank only those. At 100 TB: centroid "
    "count ~ sqrt(N) (k-means in production), lists hash-partitioned "
    "by centroid id, per-query work is O(nprobe * list), not O(N).",
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cids = emb.groupBy("label").agg(F.min("vec_id").alias("cid")).select("cid")
    cent = cids.join(emb, F.col("cid") == F.col("vec_id")).select(
        "cid", F.col("embedding").alias("cv")
    )
    # Nearest-list assignment as a max_by aggregate: struct(csim,
    # -cid) max IS the row_number ordering (csim DESC, cid ASC), and
    # the hash aggregate partial-combines map-side — one reduced row
    # per vec_id reaches the exchange instead of the full N x K
    # centroid cross product the window formulation shuffled+sorted.
    lists = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "embedding"),
                F.struct(F.col("csim"), -F.col("cid")),
            ).alias("s")
        )
        .select("vec_id", F.col("s.embedding").alias("embedding"), F.col("s.cid").alias("cid"))
    )
    # Query probe ranks nprobe lists for the N_QUERIES vectors ONLY:
    # the crank filter rides a window partitioned by vec_id, so pre-
    # filtering to query rows is semantics-preserving — a second
    # corpus-wide assignment pass becomes a Q-row job (pushed vec_id
    # filter at the scan).
    qprobe = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.col("cid"))
            ),
        )
        .filter(F.col("crank") <= NPROBE)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cid"
        )
    )
    sims = (
        lists.join(F.broadcast(qprobe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


@register(
    "similarity_ann_lsh_baseline",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
          FROM b WHERE vec_id < {N_QUERIES}),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {V.sql_cosine('e.embedding', 'q.qv', DIM)} AS sim
        FROM b e JOIN q ON e.bucket = q.bucket
        WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="Single-probe single-table LSH ANN BASELINE (recall@10 0.15 "
    "on this near-random corpus): 4 signed md5-derived integer "
    "projections -> 16 buckets; each query scans only its bucket, "
    "then exact cosine re-rank. Kept as the ablation baseline for "
    "the multiprobe/multitable variants; the canonical "
    "similarity_ann_lsh is the multi-table path (recall 0.86).",
)
def similarity_ann_lsh_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding", _bucket_expr(F.col("embedding")).alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    sims = (
        b.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ------------------------------------------------------------- k-means IVF
KMEANS_K = 10
KMEANS_ITERS = 3
KMEANS_NPROBE = 4  # measured recall@10: 0.82 @ nprobe=2 -> 0.93 @ nprobe=4


def kmeans_centroids(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> DataFrame:
    """Deterministic Lloyd iterations, pure DataFrame ops.

    - init: the k lowest vec_ids (deterministic seed — production
      would use k-means|| with a fixed RNG seed).
    - assign: broadcast the k centroids, per-vector argmax cosine
      (row_number tie-broken by cid).
    - update: element-wise mean via posexplode + groupBy(cid, pos).
      Sums run in DECIMAL(28,12) (exact, order-insensitive) and the
      mean is rounded before casting back to double, so centroids are
      BIT-IDENTICAL regardless of partitioning — the property that
      makes the downstream ANN result reproducible.

    Scale: per iteration one broadcast join (k x dim is KBs) and one
    shuffle of N*dim (cid, pos, val) rows — the standard distributed
    Lloyd step; lineage is truncated per iteration with an eager
    localCheckpoint so the plan stays flat for any iteration count.
    A lost centroid (empty cluster) simply drops out: k' <= k.
    """
    cent = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )
    for _ in range(iters):
        # argmax-cosine assignment as a max_by aggregate: struct(csim,
        # -cid) max == row_number's (csim DESC, cid ASC) pick, with
        # map-side partial aggregation — N reduced rows cross the
        # exchange instead of the N x k cross product the window
        # shuffled+sorted (once per Lloyd iteration).
        assign = (
            emb.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "embedding",
                "cid",
                V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
            )
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct("cid", "embedding"),
                    F.struct(F.col("csim"), -F.col("cid")),
                ).alias("s")
            )
            .select(F.col("s.cid").alias("cid"), F.col("s.embedding").alias("embedding"))
        )
        ex = assign.select("cid", F.posexplode("embedding").alias("pos", "val"))
        # mean = (exact decimal sum -> double) / count, ONE IEEE
        # division then ROUND(9): canonical on both engines. (The
        # previous decimal-division form round-tripped through
        # Spark's decimal(38,22) quotient scale — a double-rounding
        # DuckDB cannot reproduce, 237/640 ninth-digit mismatches.)
        means = ex.groupBy("cid", "pos").agg(
            F.round(
                F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            )
            .cast("double")
            .alias("m")
        )
        cent = (
            means.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("cv")
            )
            .localCheckpoint(eager=True)
        )
    return cent


_KM_COS_ER = V.sql_cosine("e.embedding", "r.cv", DIM)
_KM_COS_EC = V.sql_cosine("e.embedding", "c.cv", DIM)
_KM_COS_EQ = V.sql_cosine("e.embedding", "q.qv", DIM)

#: the trained-kmeans CTE chain (recursive Lloyd iterations ->
#: final centroids -> ranked assignment -> coarse lists), shared
#: VERBATIM between the similarity_ivf_kmeans oracle and the
#: ivf_kmeans_balance_audit oracle — one training definition, two
#: readouts.
_KM_TRAIN_SQL = f"""
    WITH RECURSIVE rec AS (
        SELECT 0 AS it, vec_id AS cid, embedding AS cv
        FROM (SELECT vec_id, embedding FROM embeddings
              ORDER BY vec_id LIMIT {KMEANS_K})
        UNION ALL
        SELECT m.it + 1, m.cid,
               CAST(list(CAST(m.m AS REAL) ORDER BY m.pos) AS REAL[]) AS cv
        FROM (
            SELECT x.it, x.cid, x.pos,
                   ROUND(CAST(SUM(CAST(x.val AS DECIMAL(28,12))) AS DOUBLE)
                         / COUNT(*), 9) AS m
            FROM (
                SELECT a.it, -(a.best.c) AS cid, i - 1 AS pos,
                       a.embedding[i] AS val
                FROM (
                    SELECT r.it, e.vec_id, e.embedding,
                           max({{'s': {_KM_COS_ER}, 'c': -r.cid}}) AS best
                    FROM embeddings e, rec r
                    WHERE r.it < {KMEANS_ITERS}
                    GROUP BY r.it, e.vec_id, e.embedding
                ) a, (SELECT unnest(generate_series(1, {DIM})) AS i)
            ) x
            GROUP BY x.it, x.cid, x.pos
        ) m
        GROUP BY m.it, m.cid
    ),
    cent AS (SELECT cid, cv FROM rec WHERE it = {KMEANS_ITERS}),
    assign AS (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_KM_COS_EC} DESC, c.cid) AS crank
        FROM embeddings e, cent c),
    lists AS (
        SELECT vec_id, embedding, cid FROM assign WHERE crank = 1)"""


@register(
    "similarity_ivf_kmeans",
    # Lloyd's algorithm IS SQL-expressible: a recursive CTE carries
    # the k centroid rows per iteration — assignment is a struct-max
    # argmax over the working table, the update is the same
    # decimal-sum -> one-IEEE-division -> ROUND(9) -> REAL chain as
    # the Spark side (an earlier decimal-DIVISION form was NOT
    # reproducible: Spark's decimal(38,22) quotient double-rounds).
    # Determinism + recall-vs-exact stay pinned in
    # tests/test_similarity_kmeans.py.
    oracle=f"""{_KM_TRAIN_SQL},
    qprobe AS (
        SELECT vec_id AS query_id, embedding AS qv, cid
        FROM assign WHERE vec_id < {N_QUERIES} AND crank <= {KMEANS_NPROBE}),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {_KM_COS_EQ} AS sim
        FROM lists e JOIN qprobe q USING (cid)
        WHERE e.vec_id != q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims)
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="ANN via IVF with TRAINED coarse centroids: 3 deterministic "
    "Lloyd iterations (decimal-exact element-wise means -> "
    "partitioning-independent centroids), then an nprobe=4 probe / "
    "exact re-rank (recall@10 0.93 vs 0.82 at nprobe=2 — scan cost "
    "nprobe/k of the corpus per query, still never O(N)). The "
    "production path at 100 TB: train on a sample, broadcast "
    "k~sqrt(N) centroids, lists hash-partitioned by cid.",
)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb)
    # Same restructure as similarity_ivf: argmax assignment as a
    # map-side-combining max_by aggregate (struct(csim, -cid) max ==
    # row_number's csim DESC, cid ASC), and the nprobe query ranking
    # pre-filtered to the N_QUERIES rows before the window — the
    # second corpus-wide assignment pass becomes a Q-row job.
    lists = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "embedding"),
                F.struct(F.col("csim"), -F.col("cid")),
            ).alias("s")
        )
        .select("vec_id", F.col("s.embedding").alias("embedding"), F.col("s.cid").alias("cid"))
    )
    qprobe = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.col("cid"))
            ),
        )
        .filter(F.col("crank") <= KMEANS_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cid")
    )
    sims = (
        lists.join(F.broadcast(qprobe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ---------------------------------------------------------- multi-probe LSH
def _probe_buckets_expr(bucket_col):
    """Query-side probe set: own bucket + every Hamming-distance-1
    bucket (one hyperplane sign flipped) = N_PLANES+1 probes. The
    standard multi-probe trade: recall of a 5-bucket scan for the
    index cost of one."""
    return F.array(bucket_col, *[
        bucket_col.bitwiseXOR(F.lit(1 << p)) for p in range(N_PLANES)
    ])


@register(
    "similarity_ann_lsh_multiprobe",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv,
                 unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(N_PLANES))}])
                     AS probe
          FROM b WHERE vec_id < {N_QUERIES}),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {V.sql_cosine('e.embedding', 'q.qv', DIM)} AS sim
        FROM b e JOIN q ON e.bucket = q.probe
        WHERE e.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="Multi-probe LSH ANN: each query scans its own bucket plus "
    "all Hamming-1 neighbors (5 of 16 buckets) — the classic "
    "multi-probe recall fix (measured here: 0.15 single-probe -> "
    "0.47 multi-probe recall@10) at ~5x single-probe cost, still "
    "O(probes * bucket) per query, never O(N).",
)
def similarity_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding", _bucket_expr(F.col("embedding")).alias("bucket"))
    q = (
        b.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.explode(_probe_buckets_expr(F.col("bucket"))).alias("probe"),
        )
    )
    sims = (
        b.join(F.broadcast(q), F.col("bucket") == F.col("probe"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# --------------------------------------------------- multi-TABLE LSH (OR)
# OR-construction: T independent hash tables of R planes each; a
# neighbor is a candidate if it collides with the query in ANY table
# (own bucket or a Hamming-1 probe). Measured recall@10 on this
# corpus: 0.86 at T=8, R=6 (vs 0.47 for the single-table multiprobe)
# with ~59% of the corpus scanned per query — this corpus's true
# top-10 sims are only 0.24-0.49 (near-random vectors), the hardest
# regime for LSH; at real embedding similarity (>=0.8) the same
# tables prune far harder.
#: 12 tables x 6 planes: recall@10 0.95 offline (0.86 at the round-2
#: 8x6 config) on this deliberately hard near-random corpus; the
#: extra 4 tables cost +50% of the code computation, which the fused
#: one-pass aggregate made cheap. At 100 TB, planes-per-table controls
#: bucket size (grow with corpus); tables control recall.
N_TABLES = 12
PLANES_PER_TABLE = 6
QUANT = 1_000_000  # micro-unit quantization: integer projections are
# exactly order-insensitive, so the explode/aggregate shape (codegen'd
# sums, no per-row interpreted array folds) is bit-deterministic.

MT_PLANES: list[tuple[int, int, int, int]] = [
    (pos, t, p, _plane_weight(t * 100 + p + 1000, pos))
    for t in range(N_TABLES)
    for p in range(PLANES_PER_TABLE)
    for pos in range(DIM)
]


def _sql_mt_code(t: int) -> str:
    """DuckDB code expression for table t over the quantized vector
    column ``q`` (list of BIGINT micro-units)."""
    parts = []
    for p in range(PLANES_PER_TABLE):
        w = [wt for (pos, tt, pp, wt) in MT_PLANES if tt == t and pp == p]
        wlist = "[" + ", ".join(str(x) for x in w) + "]"
        proj = f"list_sum([q[i] * ({wlist})[i] for i in generate_series(1, {DIM})])"
        parts.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def _mt_codes(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, t, code) for every vector x table.

    Shape: posexplode the quantized vector (N*DIM rows) and compute
    ALL T*P projections as fused aggregate expressions in ONE
    groupBy — each projection is sum(qval * element_at(<64-literal
    weight array>, pos+1)), all codegen'd integer arithmetic. The
    earlier broadcast-join formulation materialized N*DIM*T*P
    (~150M at sf0.1) multiply rows through the join; this computes
    the same T*P multiply-adds per exploded row without widening the
    row stream — the shuffle carries N rows x 48 long partials.
    Integer arithmetic end-to-end: order-insensitive, bit-equal to
    the DuckDB fold regardless of partitioning."""
    ex = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * QUANT).cast("bigint"),
            )
        ).alias("pos", "qval"),
    )
    # Build each 64-literal weight array as ONE parsed SQL expression:
    # the Column-API form (F.array over 64 F.lit().cast() calls, x 72
    # projections, x 2 _mt_codes call sites) cost ~9,000 py4j
    # round-trips and measured ~48 s of DRIVER-side plan construction
    # per query build (r11 optimization round) — pure serial driver
    # overhead (guide §5) that no executor ever sees. The parsed
    # `array(<w0>L, ...)` yields the identical long-typed literal
    # array, so the Catalyst plan and results are unchanged; build
    # time drops to well under a second.
    aggs = []
    for t in range(N_TABLES):
        for p in range(PLANES_PER_TABLE):
            w = [wt for (pos, tt, pp, wt) in MT_PLANES if tt == t and pp == p]
            warr = ", ".join(f"{int(x)}L" for x in w)
            aggs.append(
                F.expr(
                    f"sum(qval * element_at(array({warr}), pos + 1))"
                ).alias(f"pr_{t}_{p}")
            )
    proj = ex.groupBy("vec_id").agg(*aggs)
    tables = F.array(
        *[
            F.expr(
                f"struct({t} AS t, CAST("
                + " + ".join(
                    f"(CASE WHEN pr_{t}_{p} > 0 THEN {1 << p} ELSE 0 END)"
                    for p in range(PLANES_PER_TABLE)
                )
                + " AS BIGINT) AS code)"
            )
            for t in range(N_TABLES)
        ]
    )
    return proj.select("vec_id", F.explode(tables).alias("tc")).select(
        "vec_id", F.col("tc.t").alias("t"), F.col("tc.code").alias("code")
    )


@register(
    "similarity_ann_lsh",
    oracle=f"""
    WITH qd AS (
        SELECT vec_id,
               [CAST(round(CAST(embedding[i] AS DOUBLE) * {QUANT}) AS BIGINT)
                for i in generate_series(1, {DIM})] AS q
        FROM embeddings
    ),
    codes AS (
        {" UNION ALL ".join(f"SELECT vec_id, {t} AS t, {_sql_mt_code(t)} AS code FROM qd" for t in range(N_TABLES))}
    ),
    probes AS (
        SELECT vec_id AS query_id, t,
               unnest([code, {", ".join(f"xor(code, {1 << p})" for p in range(PLANES_PER_TABLE))}])
                   AS probe
        FROM codes WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT p.query_id, e.vec_id AS neighbor_id
        FROM codes e JOIN probes p ON e.t = p.t AND e.code = p.probe
        WHERE e.vec_id != p.query_id
    ),
    sims AS (
        SELECT c.query_id, c.neighbor_id,
               {V.sql_cosine('ev.embedding', 'qv.embedding', DIM)} AS sim
        FROM cand c
        JOIN embeddings ev ON ev.vec_id = c.neighbor_id
        JOIN embeddings qv ON qv.vec_id = c.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="CANONICAL LSH ANN (multi-table OR-construction; formerly "
    "registered as similarity_ann_lsh_multitable): 12 independent "
    "6-plane tables, Hamming-1 multiprobe in each, candidates = "
    "union of collisions, exact cosine re-rank. Projections are "
    "integer-quantized (micro-units) so the explode/aggregate "
    "codegen shape is order-insensitive and bit-equal to the oracle. "
    "Recall@10 0.95 vs 0.47 single-table on this near-random corpus; "
    "per-query work stays O(T * probes * bucket), never O(N).",
)
def similarity_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    codes = _mt_codes(spark, emb)
    # Codes are computed per-vector, so the query side is derived from
    # a pre-filtered scan rather than from `codes`: Spark does not
    # share subplans across the two sides of a join, and deriving both
    # from `codes` recomputes the full-corpus explode/aggregate twice.
    # Filtering first pushes vec_id < N_QUERIES into the parquet scan
    # and makes the query-side code computation O(queries), not O(N).
    qcodes = _mt_codes(spark, emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        "t",
        F.explode(
            F.array(
                F.col("code"),
                *[
                    F.col("code").bitwiseXOR(F.lit(1 << p))
                    for p in range(PLANES_PER_TABLE)
                ],
            )
        ).alias("probe"),
    )
    cand = (
        codes.join(
            F.broadcast(qcodes),
            (codes["t"] == qcodes["t"]) & (codes["code"] == qcodes["probe"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    ev = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"))
    qv = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    sims = (
        cand.join(ev, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("nv"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


# ------------------------------------------- incremental list assignment
#: "Yesterday's embeddings": the shard being ingested (1 in 10 vectors
#: by id hash), assigned to the FROZEN IVF lists built from the
#: already-indexed corpus — the ANN twin of dedup_incremental_minhash.
INCREMENTAL_SHARD_MOD = 10
INCREMENTAL_SHARD_SLOT = 9


@register(
    "similarity_incremental_assign",
    oracle=f"""
    WITH old AS (
        SELECT * FROM embeddings
        WHERE vec_id % {INCREMENTAL_SHARD_MOD} != {INCREMENTAL_SHARD_SLOT}
    ),
    cent AS (SELECT min(vec_id) AS cid FROM old GROUP BY label),
    centv AS (
        SELECT c.cid, e.embedding AS cv
        FROM cent c JOIN embeddings e ON e.vec_id = c.cid
    ),
    nw AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % {INCREMENTAL_SHARD_MOD} = {INCREMENTAL_SHARD_SLOT}
    ),
    assign AS (
        SELECT n.vec_id, c.cid,
               {V.sql_cosine('n.embedding', 'c.cv', DIM)} AS sim,
               row_number() OVER (PARTITION BY n.vec_id
                   ORDER BY {V.sql_cosine('n.embedding', 'c.cv', DIM)} DESC,
                            c.cid) AS crank
        FROM nw n, centv c
    )
    SELECT vec_id, cid AS assigned_list, sim FROM assign WHERE crank = 1
    """,
    doc="Incremental ANN index maintenance (continuous-ingest shape): "
    "a new shard of vectors is assigned to the FROZEN coarse lists "
    "built from the already-indexed corpus — the per-ingest-batch "
    "step a production IVF index runs (the dedup twin is "
    "dedup_incremental_minhash). Centroids derive from the OLD rows "
    "only, so assignments never shift under re-ingest; the new shard "
    "crossJoins the broadcast centroid table (k rows) and keeps the "
    "argmax-cosine list per vector — O(shard x k) work, no corpus "
    "re-scan, same plan at any corpus size.",
)
def similarity_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    is_new = emb.vec_id % INCREMENTAL_SHARD_MOD == INCREMENTAL_SHARD_SLOT
    old = emb.filter(~is_new)
    cent = (
        old.groupBy("label")
        .agg(F.min("vec_id").alias("cid"))
        .join(emb, F.col("cid") == F.col("vec_id"))
        .select("cid", F.col("embedding").alias("cv"))
    )
    new = emb.filter(is_new).select("vec_id", "embedding")
    # argmax as max_by aggregate (struct(sim, -cid) max == sim DESC,
    # cid ASC): map-side partial aggregation reduces the shard x k
    # cross product to one row per vec_id before the exchange, where
    # the row_number window shuffled+sorted every cross-product row.
    return (
        new.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("cid", "sim"), F.struct(F.col("sim"), -F.col("cid"))
            ).alias("s")
        )
        .select("vec_id", F.col("s.cid").alias("assigned_list"), F.col("s.sim").alias("sim"))
    )


@register(
    "similarity_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {V.sql_cosine('e.embedding', 'q.qv', DIM)} AS sim
        FROM embeddings e, q
        WHERE e.vec_id != q.query_id AND e.label != q.ql),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims)
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    doc="Hard-negative mining for contrastive training: per query "
    "vector, the top-5 most similar vectors with a DIFFERENT label — "
    "the negatives that actually teach the model something (random "
    "negatives are trivially easy). Same broadcast brute-force shape "
    "as similarity_cosine_topk with the label anti-filter pushed "
    "below the top-k; at 100 TB generate candidates with the "
    "IVF/LSH paths first and anti-filter the shortlist.",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("ql"),
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("ql"))
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "sim", F.col("rank").cast("int"))
    )

# Diversified retrieval, the IVF list-balance audit, and the MNN
# family (exact + bucketed scale twin) moved to ``similarity2.py`` in
# round 9 (module size cap).
