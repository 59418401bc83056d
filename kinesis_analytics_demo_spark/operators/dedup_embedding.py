"""Embedding near-duplicate dedup — the semantic-dedup family split
out of ``dedup.py`` (round 11; that file sat at 1,288 lines against
the 1,300-line cap, and this family is its one self-contained block).

Three operators:

- ``dedup_embedding_cosine``          — exact all-pairs baseline via a
  BLOCKED similarity join (block-pair tasks, vectorized Arrow/numpy
  kernels, no N^2-row shuffle).
- ``dedup_embedding_cosine_bucketed`` — the sub-quadratic DEFAULT:
  IVF-list blocking with an adaptive, deterministically-drawn centroid
  count (lists capped ~4096 members -> verify work O(N * list_cap)).
- ``dedup_embedding_clusters``        — SemDeDup-style end-to-end:
  bucketed pairs -> connected components -> keep lowest vec_id.

Reference parity: the reference engine has no embedding dedup — this
family is part of the driver-mandated LLM-data-pipeline extension
surface (SemDeDup, Abbas et al. 2023, as the published recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_analytics_demo_spark.functions import hashing as H
from kinesis_analytics_demo_spark.functions import vectors as V
from kinesis_analytics_demo_spark.plans.registry import register
from kinesis_analytics_demo_spark.session import read_table as _t

from kinesis_analytics_demo_spark.operators.dedup import (
    DEDUP_SEL_GRID,
    EMBEDDING_NEAR_DUP_COSINE,
    NEAR_DUP_LIST_CAP,
    NEAR_DUP_NPROBE,
    _sql_bucketed_pair_ctes,
    label_propagation,
)


# ------------------------------------------------------- embedding near-dups
def _block_pair_sims(threshold: float):
    """mapInPandas kernel for the blocked all-pairs cosine join.

    Accumulates dot products and squared norms dimension-by-dimension
    (left-to-right, float64) so every sim is bit-identical to the
    sequential fold the DuckDB oracle computes — while the work runs
    as numpy vectorized ops over whole block pairs.
    """

    def kernel(batches):
        import numpy as np
        import pandas as pd

        def unpack(cell):
            ids = np.fromiter((v["vec_id"] for v in cell), dtype=np.int64)
            mat = np.stack([np.asarray(v["embedding"], dtype=np.float64) for v in cell])
            return ids, mat

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for _, row in pdf.iterrows():
                ida, A = unpack(row["va"])
                idb, B = unpack(row["vb"])
                same_block = bool(row["same_block"])
                dim = A.shape[1]
                dots = np.zeros((len(ida), len(idb)))
                na = np.zeros(len(ida))
                nb = np.zeros(len(idb))
                for j in range(dim):  # LTR accumulation == fold order
                    dots += A[:, j][:, None] * B[None, :, j]
                    na += A[:, j] * A[:, j]
                    nb += B[:, j] * B[:, j]
                sims = dots / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
                ia, ib = np.meshgrid(ida, idb, indexing="ij")
                # Same block: upper triangle only (each unordered pair
                # appears twice in the product). Cross block: every
                # combination appears exactly once — keep all, then
                # canonicalize to vec_a < vec_b.
                mask = ((ia < ib) if same_block else (ia != ib)) & (sims >= threshold)
                out_a.append(np.minimum(ia[mask], ib[mask]))
                out_b.append(np.maximum(ia[mask], ib[mask]))
                out_s.append(sims[mask])
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else np.array([], np.int64),
                    "vec_b": np.concatenate(out_b) if out_b else np.array([], np.int64),
                    "sim": np.concatenate(out_s) if out_s else np.array([], np.float64),
                }
            )

    return kernel


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {V.sql_cosine('a.embedding', 'b.embedding', 64)} AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {V.sql_cosine('a.embedding', 'b.embedding', 64)} >= {EMBEDDING_NEAR_DUP_COSINE}
    """,
    doc="Embedding-cosine near-duplicate pairs, exact all-pairs via a "
    "BLOCKED similarity join: vectors grouped into B blocks "
    "(collect_list), the B*(B+1)/2 block pairs fan out as tasks, and "
    "each task computes its sub-matrix with vectorized Arrow/numpy "
    "kernels (dimension-ordered f64 accumulation keeps results "
    "bit-identical to the scalar fold). O(N^2) work — but distributed "
    "over block pairs with no N^2-row shuffle; the LSH variant in "
    "similarity.py is the sub-quadratic path.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()  # parquet metadata count: cheap
    n_blocks = max(4, min(64, n // 512 + 1))
    blocks = (
        emb.withColumn("blk", (F.col("vec_id") % n_blocks).cast("int"))
        .groupBy("blk")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("vecs"))
    )
    x = blocks.alias("x")
    y = blocks.alias("y")
    pairs = x.join(y, F.col("x.blk") <= F.col("y.blk")).select(
        F.col("x.vecs").alias("va"),
        F.col("y.vecs").alias("vb"),
        (F.col("x.blk") == F.col("y.blk")).alias("same_block"),
    )
    # One block pair per task: repartition to the pair count so the
    # quadratic work spreads across the cluster.
    n_pairs = n_blocks * (n_blocks + 1) // 2
    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    return pairs.repartition(n_pairs).mapInPandas(
        _block_pair_sims(EMBEDDING_NEAR_DUP_COSINE), schema=schema
    )


# ------------------------------------- bucketed (sub-quadratic) embedding dedup
# Constants and the shared oracle CTE builder stay in dedup.py (above
# its mid-module import of this file) so BOTH import orders resolve —
# see the import-cycle contract in the module docstring.


def _list_pair_sims(threshold: float):
    """mapInPandas kernel: per IVF list, stack the member vectors once
    and compute the upper-triangle cosine sub-matrix with vectorized
    numpy — dimension-by-dimension float64 accumulation (LTR fold
    order == the DuckDB oracle's list_sum). One matrix product per
    list instead of materializing candidate PAIRS through a shuffle
    (the pair-row form shipped ~N^2*nprobe^2/2k rows x 2 embeddings
    through Arrow — 7x slower at sf0.1). The row dimension is
    CHUNKED (1024 rows per block) so per-task scratch stays ~33 MB
    per array regardless of list size — before chunking, a 40k-member
    list materialized a 13 GB sims matrix and crashed the python
    worker (found by the round-8 100x probe); chunking changes no
    arithmetic (the j-fold order per pair is identical)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        BLK = 1024
        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for _, row in pdf.iterrows():
                cell = row["vecs"]
                ids = np.fromiter((v["vec_id"] for v in cell), dtype=np.int64)
                A = np.stack(
                    [np.asarray(v["embedding"], dtype=np.float64) for v in cell]
                )
                n = len(ids)
                nrm = np.zeros(n)
                for j in range(A.shape[1]):  # LTR accumulation == fold order
                    nrm += A[:, j] * A[:, j]
                rt = np.sqrt(nrm)
                for i0 in range(0, n, BLK):
                    blk = A[i0 : i0 + BLK]
                    dots = np.zeros((blk.shape[0], n))
                    for j in range(A.shape[1]):
                        dots += blk[:, j][:, None] * A[None, :, j]
                    sims = dots / (rt[i0 : i0 + BLK][:, None] * rt[None, :])
                    ia, ib = np.meshgrid(
                        ids[i0 : i0 + BLK], ids, indexing="ij"
                    )
                    mask = (ia < ib) & (sims >= threshold)
                    out_a.append(ia[mask])
                    out_b.append(ib[mask])
                    out_s.append(sims[mask])
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else np.array([], np.int64),
                    "vec_b": np.concatenate(out_b) if out_b else np.array([], np.int64),
                    "sim": np.concatenate(out_s) if out_s else np.array([], np.float64),
                }
            )

    return kernel


def embedding_near_dup_bucketed(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    nprobe: int = NEAR_DUP_NPROBE,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: IVF-list blocking + exact
    verify within lists (the SemDeDup-style cluster-then-compare
    shape).

    - assign each vector to its ``nprobe`` nearest centroids
      (broadcast centroid cross — O(N*k), k rows broadcast);
    - per probed list, compute the intra-list cosine sub-matrix with
      one vectorized kernel (~(N*nprobe/k)^2 work per list, k lists:
      N^2*nprobe^2/k total vs N^2 all-pairs — with k ~ sqrt(N) in
      production this is O(N^1.5));
    - a pair sharing several probed lists is verified in each
      (identical bits) and deduplicated by the final distinct.

    No stage is O(N^2) over the corpus: the only shuffles carry
    member rows (collect_list by cid) and surviving pairs. Recall is
    the standard blocked-dedup trade: at real near-dup thresholds
    (>= 0.9) probed lists capture near-identical vectors essentially
    always (tests/test_bucketed_dedup.py pins ~1.0 on a
    jittered-duplicate corpus); at this corpus's pathological 0.45
    threshold (max pairwise sim ~0.51 — random-ish vectors) measured
    recall is 11/14 vs the exact all-pairs query.
    """
    from pyspark.sql import Window, types as T

    from kinesis_analytics_demo_spark.caching import tracked_persist

    # the centroid frame feeds TWO consumers — the n_lists count
    # action below and the broadcast assign — and with the adaptive
    # draw it is a full corpus scan + md5 filter; persist so that
    # lineage runs once (ADVICE r8).
    centroids = tracked_persist(centroids)
    member = (
        emb.crossJoin(F.broadcast(centroids))
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
        .filter(F.col("crank") <= nprobe)
        .select("vec_id", "embedding", "cid")
    )
    lists = member.groupBy("cid").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("vecs")
    )
    schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    n_lists = max(centroids.count(), 1)
    return (
        lists.repartition(n_lists)  # one list per task: spread the matmuls
        .mapInPandas(_list_pair_sims(threshold), schema=schema)
        .distinct()
    )




@register(
    "dedup_embedding_cosine_bucketed",
    oracle=f"""
    WITH {_sql_bucketed_pair_ctes()}
    SELECT vec_a, vec_b, sim FROM epairs
    """,
    doc="Embedding near-dup, SUB-QUADRATIC default path: IVF-list "
    "blocking (deterministic label centroids, nprobe=2) restricts the "
    "exact-cosine verify to vectors sharing a probed list — "
    "~N^2*nprobe^2/(2k) candidate pairs instead of N^2/2. The "
    "centroid count GROWS with the corpus: above ~20k vectors, "
    "extra centroids are drawn by the deterministic md5-mod-grid "
    "rule so probed lists stay ~4096 members and total verify work "
    "is O(N * list_cap) — linear; at every test SF the extra draw "
    "is empty and the construction is the original 10 per-label "
    "representatives (results bit-identical). The round-8 100x probe "
    "motivated this: fixed 10 lists put a 40k-member list's 13 GB "
    "sims matrix in one python worker (crash); capped lists + the "
    "chunked kernel run the same corpus in bounded memory. The exact "
    "all-pairs query (dedup_embedding_cosine) is the small-scale "
    "oracle twin.",
)
def dedup_embedding_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    base = (
        emb.groupBy("label").agg(F.min("vec_id").alias("cid")).select("cid")
    )
    sel = (
        emb.agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.greatest(
                F.expr(
                    f"((n * {NEAR_DUP_NPROBE} + {NEAR_DUP_LIST_CAP - 1})"
                    f" div {NEAR_DUP_LIST_CAP}) - 10"
                ),
                F.lit(0).cast("bigint"),
            ).alias("k"),
        )
        # greatest(n, 1): an empty embeddings table must yield an empty
        # result, not an ANSI div-by-zero (DuckDB's // 0 -> NULL quietly
        # filters everything; Spark 4 ANSI mode throws) — ADVICE r8.
        .select(
            F.expr(
                f"({DEDUP_SEL_GRID} * k + n - 1) div greatest(n, 1)"
            ).alias("thr")
        )
    )
    extra = (
        emb.crossJoin(F.broadcast(sel))
        .filter(
            H.md5_long(F.col("vec_id").cast("string")) % DEDUP_SEL_GRID
            < F.col("thr")
        )
        .select(F.col("vec_id").alias("cid"))
    )
    cent = (
        base.unionByName(extra)
        .distinct()
        .join(emb, F.col("cid") == F.col("vec_id"))
        .select("cid", F.col("embedding").alias("cv"))
    )
    return embedding_near_dup_bucketed(emb, cent, EMBEDDING_NEAR_DUP_COSINE)


@register(
    "dedup_embedding_clusters",
    oracle=f"""
    WITH RECURSIVE {_sql_bucketed_pair_ctes()},
    eedges AS (
        SELECT vec_a AS src, vec_b AS dst FROM epairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM epairs
    ),
    ereach(vec_id, root) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.dst, r.root FROM ereach r JOIN eedges e ON e.src = r.vec_id
    ),
    eclusters AS (
        SELECT vec_id, min(root) AS cluster_id FROM ereach GROUP BY vec_id
    )
    SELECT vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           vec_id = cluster_id AS kept
    FROM eclusters
    """,
    doc="SemDeDup-style semantic dedup END TO END: bucketed embedding "
    "near-dup pairs (IVF-list blocking, sub-quadratic) -> connected "
    "components via distributed min-label propagation "
    "(label_propagation, lineage-checkpointed per round) -> keep the "
    "lowest vec_id per semantic cluster. The full 100 TB shape: no "
    "O(N^2) stage, component rounds bounded by duplicate-graph "
    "diameter, one extra shuffle for the cluster-size window.",
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    pairs = dedup_embedding_cosine_bucketed(spark, sf_dir)
    edges = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).union(pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")))
    labels = emb.select(
        F.col("vec_id").alias("doc_id"), F.col("vec_id").alias("cluster_id")
    )
    clusters = label_propagation(labels, edges, max_rounds=20).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    size_w = Window.partitionBy("cluster_id")
    return clusters.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1)).over(size_w).cast("bigint").alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("kept"),
    )

