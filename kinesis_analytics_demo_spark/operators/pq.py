"""Product quantization (PQ) over the ``embeddings`` table: subspace
codebooks, corpus encoding, quantization-error audit, and asymmetric-
distance (ADC) approximate top-k search — the IVF family's companion
compression path (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

Codebooks are deterministic label representatives (the min-vec_id
vector per label, the same oracle-able trick as ``similarity_ivf``;
production swaps in per-subspace k-means exactly as
``similarity_ivf_kmeans`` does for the coarse quantizer). Codes are
``(vec_id, subspace, code)`` integer rows.

Scale story (the point of PQ at 100 TB): after encoding, the corpus
side of a search carries M=8 one-byte codes per vector instead of
64 floats — a 32x shrink of the scanned bytes — and ADC replaces
per-pair float dot products with a broadcast lookup-table join on
(subspace, code) plus an 8-term sum. Encoding is a one-pass
crossJoin against the broadcast 80-row codebook; nothing but integer
code rows ever shuffles.

Determinism: per-subspace squared distances accumulate left-to-right
over fixed absolute indices (the verified ``sql_dot`` pattern); the
cross-subspace ADC sum goes through DECIMAL(18,6) + ROUND like every
order-sensitive float aggregate in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_analytics_demo_spark.caching import tracked_persist
from kinesis_analytics_demo_spark.functions import vectors as V
from kinesis_analytics_demo_spark.plans.registry import register
from kinesis_analytics_demo_spark.session import read_table as _t

DIM = 64
M_SUBSPACES = 8
SUB_DIM = DIM // M_SUBSPACES
N_QUERIES = 10  # query set: vec_id < 10, matching the similarity family
TOP_K = 10


def _sql_subdist(a: str, b: str, m: str) -> str:
    """DuckDB fragment: squared L2 distance between subvectors of
    ``a`` and ``b`` for (0-based) subspace column/expression ``m`` —
    absolute 1-based indices, left-to-right accumulation."""
    lo = f"({m} * {SUB_DIM} + 1)"
    hi = f"(({m} + 1) * {SUB_DIM})"
    return (
        f"list_sum([(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" for i in generate_series({lo}, {hi})])"
    )


def _subdist(a, b, m) -> F.Column:
    """Spark twin of :func:`_sql_subdist` (columns, 0-based subspace)."""
    diff = lambda i: F.element_at(a, i).cast("double") - F.element_at(b, i).cast(
        "double"
    )
    return F.aggregate(
        F.sequence(m * SUB_DIM + 1, (m + 1) * SUB_DIM),
        F.lit(0.0),
        lambda acc, i: acc + diff(i) * diff(i),
    )


_SQL_CODEBOOK = """
    cent AS (SELECT min(vec_id) AS cid FROM embeddings GROUP BY label),
    codebook AS (
        SELECT m.m AS subspace, e.label AS code, e.embedding AS cw
        FROM (SELECT unnest(generate_series(0, {mmax})) AS m) m,
             cent c JOIN embeddings e ON e.vec_id = c.cid
    )
""".format(mmax=M_SUBSPACES - 1)


def _reps(spark: SparkSession, sf_dir: str, persist: bool = True) -> DataFrame:
    """(label, cid, embedding): one deterministic representative per
    label — the shared seed of BOTH the coarse-quantizer centroid
    table and every per-subspace codebook. Persisted by default
    (K rows, a trivial cache): the ADC / IVF-PQ queries otherwise
    rebuild this corpus-wide groupBy(label) + self-join lineage once
    per reference (up to 3 builds / 6 extra scans in
    similarity_ivfpq_adc_rerank's before-plan) — at scale each build
    is a full corpus aggregation. ``persist=False`` for single-use
    callers (embedding_pq_codes), where a cache is pure barrier cost."""
    emb = _t(spark, sf_dir, "embeddings")
    reps = emb.groupBy("label").agg(F.min("vec_id").alias("cid")).select("cid")
    cw = reps.join(emb, F.col("cid") == F.col("vec_id")).select(
        "label", "cid", "embedding"
    )
    if not persist:
        return cw
    # A cached plan keeps its static shuffle partitioning (AQE cannot
    # re-coalesce a cache read), so without the repartition every
    # consumer pass schedules one task per near-empty aggregate
    # partition. K rows fit one partition at any sane K.
    return tracked_persist(cw.repartition(1))


def _codebook(spark: SparkSession, reps: DataFrame) -> DataFrame:
    """(subspace, code, cw) — one deterministic codeword per label per
    subspace; cw keeps the representative's FULL vector and distances
    index into the subspace's absolute range, so no slicing copies.

    ``reps`` comes from :func:`_reps`, which alone decides whether it is
    persisted; an operator that also uses the reps frame elsewhere
    passes the same frame, so the persist happens exactly once
    (ADVICE r11)."""
    cw = reps.select(
        F.col("label").alias("code"), F.col("embedding").alias("cw")
    )
    subspaces = spark.range(M_SUBSPACES).select(
        F.col("id").cast("int").alias("subspace")
    )
    return cw.crossJoin(subspaces).select("subspace", "code", "cw")


def _codes(spark: SparkSession, sf_dir: str, cb: DataFrame) -> DataFrame:
    """(vec_id, subspace, code): nearest codeword per subspace,
    tiebroken by code id — the PQ encoding.

    The argmin is a ``min_by`` over struct(d, code) — lexicographic
    struct ordering IS the row_number ordering (d ASC, code ASC), and
    a hash aggregate partial-combines map-side, so only one pre-
    reduced row per (vec_id, subspace) reaches the exchange. The
    row_number formulation shuffled and sorted the full N x (codes)
    cross product (N x 640 rows here; corpus x codebook at scale).

    ``cb`` comes from :func:`_codebook`; an operator that also uses the
    codebook elsewhere passes the same frame (ADVICE r11)."""
    emb = _t(spark, sf_dir, "embeddings")
    d = _subdist(F.col("embedding"), F.col("cw"), F.col("subspace"))
    return (
        emb.crossJoin(F.broadcast(cb))
        .select("vec_id", "subspace", "code", d.alias("d"))
        .groupBy("vec_id", "subspace")
        .agg(F.min_by("code", F.struct("d", "code")).alias("code"))
    )


_SQL_CODES = f"""
    assign AS (
        SELECT e.vec_id, cb.subspace, cb.code,
               row_number() OVER (PARTITION BY e.vec_id, cb.subspace
                   ORDER BY {_sql_subdist('e.embedding', 'cb.cw', 'cb.subspace')},
                            cb.code) AS crank
        FROM embeddings e, codebook cb
    ),
    codes AS (SELECT vec_id, subspace, code FROM assign WHERE crank = 1)
"""


@register(
    "embedding_pq_codes",
    oracle=f"""
    WITH {_SQL_CODEBOOK},
    {_SQL_CODES}
    SELECT vec_id, CAST(subspace AS INT) AS subspace, CAST(code AS INT) AS code
    FROM codes
    """,
    doc="PQ encoding: each vector becomes M=8 integer codes (nearest "
    "label-representative codeword per 8-dim subspace, deterministic "
    "tiebreak). One crossJoin against the broadcast 80-row codebook, "
    "argmin via per-(vec, subspace) row_number — at 100 TB this is a "
    "single corpus scan emitting 8 small-int rows per vector, and the "
    "encoded table is ~32x smaller than the float embeddings.",
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist=False: this query references the codebook lineage exactly
    # once, so the reps cache would be a pure materialization barrier.
    cb = _codebook(spark, _reps(spark, sf_dir, persist=False))
    return _codes(spark, sf_dir, cb).select(
        "vec_id",
        F.col("subspace").cast("int").alias("subspace"),
        F.col("code").cast("int").alias("code"),
    )


@register(
    "embedding_pq_quantization_error",
    oracle=f"""
    WITH {_SQL_CODEBOOK},
    {_SQL_CODES},
    err AS (
        SELECT c.subspace,
               {_sql_subdist('e.embedding', 'cb.cw', 'c.subspace')} AS d
        FROM codes c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN codebook cb ON cb.subspace = c.subspace AND cb.code = c.code
    )
    SELECT CAST(subspace AS INT) AS subspace,
           CAST(count(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(d AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_sq_err
    FROM err GROUP BY subspace
    """,
    doc="PQ quantization-error audit: per-subspace total squared "
    "reconstruction error of the encoding — the metric that tells you "
    "whether the codebook (or M) is adequate before you trust ADC "
    "recall. Same one-scan shape as encoding; the error aggregate is "
    "decimal-summed for cross-engine determinism.",
)
def embedding_pq_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cb = _codebook(spark, _reps(spark, sf_dir))
    codes = _codes(spark, sf_dir, cb)
    d = _subdist(F.col("embedding"), F.col("cw"), F.col("subspace"))
    err = (
        codes.join(emb, "vec_id")
        .join(F.broadcast(cb), ["subspace", "code"])
        .select("subspace", d.alias("d"))
    )
    return err.groupBy(F.col("subspace").cast("int").alias("subspace")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("d").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("total_sq_err"),
    )


@register(
    "similarity_pq_adc",
    oracle=f"""
    WITH {_SQL_CODEBOOK},
    {_SQL_CODES},
    lut AS (
        SELECT q.vec_id AS query_id, cb.subspace, cb.code,
               {_sql_subdist('q.embedding', 'cb.cw', 'cb.subspace')} AS d
        FROM embeddings q, codebook cb
        WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(ROUND(SUM(CAST(l.d AS DECIMAL(18,6))), 4) AS DOUBLE)
                   AS adc_dist
        FROM codes c
        JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
        WHERE c.vec_id != l.query_id
        GROUP BY l.query_id, c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="ANN via PQ asymmetric distance (ADC): each query precomputes "
    "an (M x K)-entry lookup table of exact subspace distances to "
    "every codeword; database vectors are scored by summing M table "
    "lookups over their codes — no float vector math on the corpus "
    "side. At 100 TB the scan reads only the 8-byte code rows, the "
    "LUT (Q x M x K rows) broadcasts, and the only shuffle is the "
    "per-(query, vector) 8-row sum followed by the per-query top-k.",
)
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cb = _codebook(spark, _reps(spark, sf_dir))
    codes = _codes(spark, sf_dir, cb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    d = _subdist(F.col("qv"), F.col("cw"), F.col("subspace"))
    lut = q.crossJoin(F.broadcast(cb)).select(
        "query_id", "subspace", "code", d.alias("d")
    )
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("adc_dist")
        )
    )
    ranked = adc.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("adc_dist").asc(), F.col("neighbor_id").asc()
            )
        )
        .cast("int")
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= TOP_K)


SHORTLIST = 100  #: ADC candidates kept per query for exact re-rank


@register(
    "similarity_pq_adc_rerank",
    oracle=f"""
    WITH {_SQL_CODEBOOK},
    {_SQL_CODES},
    lut AS (
        SELECT q.vec_id AS query_id, cb.subspace, cb.code,
               {_sql_subdist('q.embedding', 'cb.cw', 'cb.subspace')} AS d
        FROM embeddings q, codebook cb
        WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               CAST(ROUND(SUM(CAST(l.d AS DECIMAL(18,6))), 4) AS DOUBLE)
                   AS adc_dist
        FROM codes c
        JOIN lut l ON l.subspace = c.subspace AND l.code = c.code
        WHERE c.vec_id != l.query_id
        GROUP BY l.query_id, c.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS arank
        FROM adc
    ),
    cand AS (SELECT query_id, neighbor_id FROM short WHERE arank <= {SHORTLIST}),
    re AS (
        SELECT c.query_id, c.neighbor_id,
               {V.sql_cosine('e.embedding', 'q.embedding', DIM)} AS sim
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.neighbor_id
        JOIN embeddings q ON q.vec_id = c.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM re
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="PQ ADC + exact re-rank (the IVFADC+R refinement, Jegou et "
    "al. 2011 sec. V): the ADC pass cheaply shortlists SHORTLIST "
    "candidates per query from code rows alone; only those fetch "
    "their float vectors for an exact cosine re-rank. recall@10 on "
    "this deliberately hard near-random corpus: 0.82 (vs 0.25 for "
    "raw ADC) — pinned in tests/test_pq.py. At 100 TB the corpus "
    "scan stays 8 bytes/vector; the refine join touches only "
    "Q x SHORTLIST rows (a broadcast-able candidate set), so exact "
    "float work is O(Q * SHORTLIST * d) regardless of N.",
)
def similarity_pq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cb = _codebook(spark, _reps(spark, sf_dir))
    codes = _codes(spark, sf_dir, cb)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    d = _subdist(F.col("qv"), F.col("cw"), F.col("subspace"))
    lut = q.crossJoin(F.broadcast(cb)).select(
        "query_id", "subspace", "code", d.alias("d")
    )
    adc = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("adc_dist")
        )
    )
    cand = (
        adc.select(
            "query_id",
            "neighbor_id",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist").asc(), F.col("neighbor_id").asc()
                )
            )
            .alias("arank"),
        )
        .filter(F.col("arank") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    re = (
        cand.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    return (
        re.select(
            "query_id",
            "neighbor_id",
            "sim",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("neighbor_id").asc()
                )
            )
            .cast("int")
            .alias("rank"),
        )
        .filter(F.col("rank") <= TOP_K)
    )


IVFPQ_NPROBE = 4


@register(
    "similarity_ivfpq_adc_rerank",
    oracle=f"""
    WITH {_SQL_CODEBOOK},
    {_SQL_CODES},
    centv AS (
        SELECT c.cid, e.embedding AS cv
        FROM cent c JOIN embeddings e ON e.vec_id = c.cid
    ),
    iassign AS (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {V.sql_cosine('e.embedding', 'c.cv', DIM)} DESC,
                            c.cid) AS crank
        FROM embeddings e, centv c
    ),
    lists AS (SELECT vec_id, cid FROM iassign WHERE crank = 1),
    qprobe AS (
        SELECT vec_id AS query_id, cid
        FROM iassign WHERE vec_id < {N_QUERIES} AND crank <= {IVFPQ_NPROBE}
    ),
    cand AS (
        SELECT q.query_id, l.vec_id
        FROM lists l JOIN qprobe q ON l.cid = q.cid
        WHERE l.vec_id != q.query_id
    ),
    lut AS (
        SELECT q.vec_id AS query_id, cb.subspace, cb.code,
               {_sql_subdist('q.embedding', 'cb.cw', 'cb.subspace')} AS d
        FROM embeddings q, codebook cb
        WHERE q.vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT ca.query_id, c.vec_id AS neighbor_id,
               CAST(ROUND(SUM(CAST(l.d AS DECIMAL(18,6))), 4) AS DOUBLE)
                   AS adc_dist
        FROM codes c
        JOIN cand ca ON ca.vec_id = c.vec_id
        JOIN lut l ON l.query_id = ca.query_id
                  AND l.subspace = c.subspace AND l.code = c.code
        GROUP BY ca.query_id, c.vec_id
    ),
    short AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS arank
        FROM adc
    ),
    shortlist AS (SELECT query_id, neighbor_id FROM short
                  WHERE arank <= {SHORTLIST}),
    re AS (
        SELECT s.query_id, s.neighbor_id,
               {V.sql_cosine('e.embedding', 'q.embedding', DIM)} AS sim
        FROM shortlist s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN embeddings q ON q.vec_id = s.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM re
    )
    SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc="IVF-PQ with exact re-rank — the full production ANN stack "
    "(Jegou et al. 2011's IVFADC+R) composed from this repo's two "
    "halves: the IVF coarse quantizer prunes each query's scan to "
    f"nprobe={IVFPQ_NPROBE} inverted lists (per-query work O(nprobe "
    "* list), not O(N)); within those lists distance is ADC over "
    "8-byte PQ codes (32x less I/O than float vectors); only the "
    "ADC shortlist fetches real vectors for the exact cosine top-k. "
    "At 100 TB every piece is the scale path: broadcast centroids + "
    "codebook LUTs, lists hash-partitioned by centroid id, code rows "
    "are the only corpus-wide shuffle input, and the float re-rank "
    "touches Q x SHORTLIST rows regardless of N. Recall floor pinned "
    "in tests/test_pq.py.",
)
def similarity_ivfpq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # ONE reps build + persist, threaded explicitly into the codebook
    # and the coarse-quantizer centroid table (ADVICE r11: the three
    # independent _reps calls each stacked a tracked_persist handle and
    # leaned on CacheManager plan-dedup to share the cache).
    reps = _reps(spark, sf_dir)
    cb = _codebook(spark, reps)
    codes = _codes(spark, sf_dir, cb)
    # The coarse-quantizer centroids are the SAME label representatives
    # the codebook is built from.
    cent = reps.select("cid", F.col("embedding").alias("cv"))
    # Nearest-list assignment as a max_by aggregate: struct(csim,
    # -cid) max IS the row_number ordering (csim DESC, cid ASC), and
    # the hash aggregate partial-combines map-side — one reduced row
    # per vec_id reaches the exchange instead of the full N x K
    # centroid cross product the window formulation shuffled+sorted.
    lists = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
        )
        .groupBy("vec_id")
        .agg(F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("cid"))
    )
    # The query probe ranks nprobe lists for the N_QUERIES vectors
    # ONLY: the crank filter rides a window partitioned by vec_id, so
    # pre-filtering to query rows is semantics-preserving — and turns
    # a second corpus-wide assignment pass into a Q-row job (pushed
    # vec_id filter at the scan).
    qprobe = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            V.cosine(F.col("embedding"), F.col("cv")).alias("csim"),
        )
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.desc("csim"), F.col("cid")
                )
            ),
        )
        .filter(F.col("crank") <= IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    cand = (
        lists.join(F.broadcast(qprobe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    d = _subdist(F.col("qv"), F.col("cw"), F.col("subspace"))
    lut = q.crossJoin(F.broadcast(cb)).select(
        "query_id", "subspace", "code", d.alias("d")
    )
    adc = (
        codes.join(cand, "vec_id")
        .join(F.broadcast(lut), ["query_id", "subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.round(F.sum(F.col("d").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("adc_dist")
        )
    )
    short = (
        adc.withColumn(
            "arank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("adc_dist").asc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("arank") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    re = (
        short.join(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            V.cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("neighbor_id"))
    return (
        re.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
