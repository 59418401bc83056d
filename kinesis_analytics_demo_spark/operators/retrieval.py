"""Corpus retrieval / indexing operators over ``documents``: TF-IDF
term extraction, BM25 ranking, and inverted-index construction — the
search-side counterpart of the dedup/similarity family (a training-data
pipeline needs them for corpus exploration, query-based filtering, and
nearest-text audits of model outputs).

Determinism discipline (the oracle gate compares values exactly):

- tf / df / dl / N are exact integers, so every score here is a pure
  IEEE-double function of integers — bit-reproducible across engines
  as long as BOTH sides evaluate the same expression tree. The SQL
  strings below parenthesize every float step in the same order as the
  Spark column expressions.
- BM25 sums per-term scores for a FIXED query-term list; the sum is
  written as a left-associated chain over pivoted per-term columns
  (never a float SUM() over a variable-order group) so addition order
  is identical on both engines.

Scale notes (100 TB):

- Tokenization is one ``explode`` scan; every aggregate is keyed by
  ``doc_id`` or by the token, so the only shuffles are hash-keyed on
  uniformly-distributed keys (token df skew is the classic hot-key —
  the df table is vocab-sized and aggregates map-side before the
  shuffle, so the skew lands on a *combined* row, not the raw stream).
- TF-IDF's tf-df join shuffles on token; an open web vocabulary is too
  large to broadcast, so it stays a shuffle join (AQE will broadcast
  the df side automatically when the vocab IS small).
- BM25 filters to the query terms BEFORE the first aggregation —
  the scan reduces to a few posting lists immediately; df/avgdl sides
  are single-row or |terms|-row broadcasts.
- Inverted-index posting lists are bounded: tokens above
  ``POSTINGS_MAX_DF`` are dropped (stopword pruning — at web scale
  those lists are sharded impact-ordered structures, not array cells)
  and lists are truncated to ``POSTINGS_LIST_CAP`` entries, so
  ``collect_list`` memory is capped per token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kinesis_analytics_demo_spark.functions import hashing as H
from kinesis_analytics_demo_spark.plans.registry import register
from kinesis_analytics_demo_spark.session import read_table as _t

_SQL_TOKENS = "string_split_regex(text, '\\s+')"

TFIDF_TOP_K = 3

#: BM25 free parameters (Robertson/Sparck Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75
#: Fixed query — the sum below adds the per-term scores in THIS order.
BM25_QUERY_TERMS = ("hash", "merge", "scan", "window")


def check_distinct_terms(terms: tuple[str, ...]) -> None:
    """Raise ValueError if any query term repeats.

    _fused_query_stats pivots one tf{i}/df{i} column per term INDEX, so a
    duplicate term would double-count both rankers' scores and inflate
    rel in retrieval_ndcg_audit (ADVICE r11)."""
    if len(set(terms)) != len(terms):
        raise ValueError(
            f"query terms must be duplicate-free: {terms!r} (the fused "
            "pivoted stats count each term once per index)"
        )


check_distinct_terms(BM25_QUERY_TERMS)
BM25_TOP_K = 20

#: df bounds are FRACTIONS of corpus size so the operator keeps the
#: same selectivity at every scale factor (absolute bounds silently
#: empty out when the corpus grows 10x).
POSTINGS_MIN_DF_FRAC = 0.01
POSTINGS_MAX_DF_FRAC = 0.9
POSTINGS_LIST_CAP = 100


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, w): one row per token instance — single corpus scan."""
    return docs.select("doc_id", F.explode(H.words(F.col("text"))).alias("w"))


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY doc_id, w),
    dfq AS (SELECT w, count(*) AS df_docs FROM tf GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (SELECT tf.doc_id, tf.w AS term, tf.tf, dfq.df_docs,
                 (tf.tf * ln((n.n_docs + 1.0) / (dfq.df_docs + 1.0))) AS score
          FROM tf JOIN dfq ON tf.w = dfq.w CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY score DESC, term) AS term_rank
          FROM s)
    SELECT doc_id, term, tf, df_docs,
           ROUND(score, 6) AS tfidf, term_rank
    FROM r WHERE term_rank <= {TFIDF_TOP_K}
    """,
    doc="Top-3 TF-IDF terms per document (smoothed idf "
    "ln((N+1)/(df+1))). One explode scan; tf and df are map-side "
    "combined aggregates; the tf-df join shuffles on the token (AQE "
    "broadcasts the vocab-sized df side when small); the per-doc "
    "top-k is a WindowGroupLimit — no global sort. Scores are pure "
    "double functions of exact integers, identical on both engines.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tf = _doc_tokens(docs).groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df_docs"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("df_docs") + F.lit(1.0))
    )
    scored = (
        tf.join(dfq, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            "tf",
            "df_docs",
            score.alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df_docs",
            F.round("score", 6).alias("tfidf"),
            "term_rank",
        )
    )


def _bm25_oracle() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    # left-associated fixed-order sum over the pivoted per-term scores
    total = ""
    pivots = []
    for i, t in enumerate(BM25_QUERY_TERMS):
        pivots.append(
            f"max(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        )
        piece = f"COALESCE(s{i}, 0.0)"
        total = piece if i == 0 else f"({total} + {piece})"
    return f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    g AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
                  / (SELECT count(*) FROM dl)) AS avgdl),
    tfq AS (SELECT doc_id, w AS term, count(*) AS tf FROM t
            WHERE w IN ({terms_sql}) GROUP BY doc_id, w),
    dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
    s AS (SELECT tfq.doc_id, tfq.term,
                 (ln(1.0 + ((g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)))
                  * ((tfq.tf * {BM25_K1 + 1.0})
                     / (tfq.tf + ({BM25_K1} * ((1.0 - {BM25_B})
                        + ({BM25_B} * (dl.dl / g.avgdl))))))) AS score
          FROM tfq
          JOIN dl ON tfq.doc_id = dl.doc_id
          CROSS JOIN g JOIN dfq ON tfq.term = dfq.term),
    p AS (SELECT doc_id, {', '.join(pivots)} FROM s GROUP BY doc_id),
    ranked AS (SELECT doc_id, {total} AS bm25 FROM p
               ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K})
    SELECT doc_id, ROUND(bm25, 6) AS bm25,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS doc_rank
    FROM ranked
    """


@register(
    "bm25_search",
    oracle=_bm25_oracle(),
    doc=f"BM25 (k1={BM25_K1}, b={BM25_B}) top-{BM25_TOP_K} documents "
    f"for the fixed query {BM25_QUERY_TERMS}. The token scan filters "
    "to the query terms BEFORE aggregating (predicate on the exploded "
    "stream — at 100 TB this is a few posting lists, not the corpus); "
    "doc length and avgdl come from one stats pass; df and the global "
    "stats are broadcast. Per-term scores are pivoted to columns and "
    "added in a fixed left-associated order, so the float sum is "
    "engine-identical (a float SUM() over a variable-order group is "
    "not). Top-k plans as TakeOrderedAndProject — no global sort.",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    # Doc length is size(words(text)) — split() never yields an empty
    # array (split('') = ['']), so this equals the exploded per-doc
    # count row-for-row while skipping the full-corpus explode + hash
    # aggregate the before-plan paid for dl (its one real shuffle of
    # unfiltered tokens). n_docs = count of dl rows for the same
    # reason, dropping the separate corpus-count scan and cross join.
    dl = docs.select(
        "doc_id", F.size(H.words(F.col("text"))).cast("bigint").alias("dl")
    )
    g = dl.agg(
        F.count(F.lit(1)).alias("n_len_docs"),
        F.sum("dl").alias("sum_dl"),
    ).select(
        F.col("n_len_docs").alias("n_docs"),
        (F.col("sum_dl").cast("double") / F.col("n_len_docs")).alias("avgdl"),
    )
    tfq = (
        toks.filter(F.col("w").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tfq.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
    )
    norm = F.col("tf") + (
        F.lit(BM25_K1)
        * (
            (F.lit(1.0) - F.lit(BM25_B))
            + (F.lit(BM25_B) * (F.col("dl") / F.col("avgdl")))
        )
    )
    score = idf * ((F.col("tf") * F.lit(BM25_K1 + 1.0)) / norm)
    s = (
        tfq.join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .join(F.broadcast(dfq), "term")
        .select("doc_id", "term", score.alias("score"))
    )
    pivots = [
        F.max(F.when(F.col("term") == t, F.col("score"))).alias(f"s{i}")
        for i, t in enumerate(BM25_QUERY_TERMS)
    ]
    p = s.groupBy("doc_id").agg(*pivots)
    total = None
    for i in range(len(BM25_QUERY_TERMS)):
        piece = F.coalesce(F.col(f"s{i}"), F.lit(0.0))
        total = piece if total is None else (total + piece)
    ranked = (
        p.select("doc_id", total.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return ranked.select(
        "doc_id",
        F.round("bm25", 6).alias("bm25"),
        F.row_number().over(w).alias("doc_rank"),
    )


@register(
    "inverted_index_postings",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    d AS (SELECT DISTINCT doc_id, w FROM t),
    n AS (SELECT count(*) AS n_docs FROM documents),
    agg AS (SELECT w AS term, count(*) AS df_docs,
                   list_sort(list(doc_id)) AS all_postings
            FROM d GROUP BY w)
    SELECT term, df_docs,
           array_to_string(all_postings[1:{POSTINGS_LIST_CAP}], ',') AS postings
    FROM agg CROSS JOIN n
    WHERE df_docs >= {POSTINGS_MIN_DF_FRAC} * n_docs
      AND df_docs <= {POSTINGS_MAX_DF_FRAC} * n_docs
    """,
    doc="Inverted index: sorted doc-id posting list per token, for "
    f"tokens with df in [{POSTINGS_MIN_DF_FRAC:.0%}, "
    f"{POSTINGS_MAX_DF_FRAC:.0%}] of corpus size "
    f"(stopword pruning), lists truncated to {POSTINGS_LIST_CAP} "
    "entries. collect_list memory per token is bounded by the df cap "
    "— at web scale the above-cap tokens are exactly the ones an "
    "impact-ordered sharded index would special-case, so dropping "
    "them here is the honest single-box rendering. One explode scan, "
    "two token-keyed hash aggregates (uniform keys), no joins.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.caching import tracked_persist

    docs = _t(spark, sf_dir, "documents")
    # Two-phase so collect_list NEVER materializes a stopword's posting
    # list: (1) df per token (counts only), filter to the band; (2)
    # rebuild lists just for survivors via a semi-ish inner join. The
    # persisted distinct (doc_id, token) table feeds both phases — one
    # tokenize scan total, and phase 2's collect_list memory is bounded
    # by the df cap it joins against.
    d = tracked_persist(_doc_tokens(docs).select("doc_id", "w").distinct())
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dfq = (
        d.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("df_docs") >= F.lit(POSTINGS_MIN_DF_FRAC) * F.col("n_docs"))
            & (F.col("df_docs") <= F.lit(POSTINGS_MAX_DF_FRAC) * F.col("n_docs"))
        )
        .select("w", "df_docs")
    )
    return (
        d.join(dfq, "w")
        .groupBy(F.col("w").alias("term"))
        .agg(
            F.first("df_docs").alias("df_docs"),
            # comma-joined string, not array<bigint>: the grading
            # driver's canonicalizer cannot sort list cells
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")), 1, POSTINGS_LIST_CAP
                ),
                ",",
            ).alias("postings"),
        )
    )


# -------------------------------------------- incremental index merge
POSTINGS_SHARD_FRAC = 0.8  #: base = doc_id below this fraction of max


@register(
    "inverted_index_incremental_merge",
    oracle=f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    d AS (SELECT DISTINCT doc_id, w FROM t),
    n AS (SELECT count(*) AS n_docs FROM documents),
    agg AS (SELECT w AS term, count(*) AS df_docs,
                   list_sort(list(doc_id)) AS all_postings
            FROM d GROUP BY w)
    SELECT term, df_docs,
           array_to_string(all_postings[1:{POSTINGS_LIST_CAP}], ',') AS postings
    FROM agg CROSS JOIN n
    WHERE df_docs >= {POSTINGS_MIN_DF_FRAC} * n_docs
      AND df_docs <= {POSTINGS_MAX_DF_FRAC} * n_docs
    """,
    doc="Incremental inverted-index maintenance (the Lucene "
    "segment-merge shape): a new shard (top 20% of doc ids) is "
    "indexed alone and MERGED into the frozen base segment — df "
    "counts add, capped sorted lists concatenate then re-cap "
    "(doc-id-ordered segments make concat+cap exact), and the "
    "df-band stopword filter applies at read time against the full "
    "corpus size. The oracle is the FULL-corpus recompute, so the "
    "gate proves incremental == from-scratch. Per-token memory stays "
    "bounded: the window buffer over (term, segment) spills, and the "
    "top-cap filter runs before any collect_list, so no posting list "
    "materializes beyond the cap.",
)
def inverted_index_incremental_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # One corpus pass: tag each distinct (doc_id, w) row with its
    # segment (0 = frozen base, 1 = new shard) and run BOTH segments'
    # index builds on a single (w, seg) exchange — the per-segment df
    # rides an unordered window count and the per-segment capped list
    # a row_number cap over the same partition, exactly the two
    # values `_capped_posting_lists` computed per side with its own
    # scan + distinct + groupBy + window + join (the r11 before-plan
    # ran 9 scans / 44 Exchanges for this query). The merge is then a
    # tiny <=2-rows-per-term groupBy instead of a full-outer join.
    # Window buffers spill per (w, seg) partition; the cap filter
    # still runs BEFORE collect_list, so no posting list ever
    # materializes beyond POSTINGS_LIST_CAP.
    docs = _t(spark, sf_dir, "documents")
    mx = docs.agg(
        (F.floor(F.lit(POSTINGS_SHARD_FRAC) * F.max("doc_id")) + 1)
        .alias("split"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    d = (
        _doc_tokens(docs)
        .select("doc_id", "w")
        .distinct()
        .crossJoin(F.broadcast(mx))
        .withColumn("seg", (F.col("doc_id") >= F.col("split")).cast("int"))
    )
    ws = Window.partitionBy("w", "seg")
    rn = Window.partitionBy("w", "seg").orderBy("doc_id")
    seg_lists = (
        d.withColumn("df_seg", F.count(F.lit(1)).over(ws))
        .withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") <= POSTINGS_LIST_CAP)
        .groupBy("w", "seg")
        .agg(
            F.first("df_seg").alias("df_seg"),
            F.first("n_docs").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("plist"),
        )
    )
    empty = F.array().cast("array<bigint>")
    pl = lambda s: F.first(  # noqa: E731
        F.when(F.col("seg") == s, F.col("plist")), ignorenulls=True
    )
    merged = (
        seg_lists.groupBy("w")
        .agg(
            F.sum("df_seg").alias("df_docs"),
            F.first("n_docs").alias("n_docs"),
            pl(0).alias("pl_a"),
            pl(1).alias("pl_b"),
        )
        .select(
            F.col("w").alias("term"),
            "df_docs",
            "n_docs",
            F.slice(
                F.concat(
                    F.coalesce(F.col("pl_a"), empty),
                    F.coalesce(F.col("pl_b"), empty),
                ),
                1,
                POSTINGS_LIST_CAP,
            ).alias("plist"),
        )
    )
    return merged.filter(
        (F.col("df_docs") >= F.lit(POSTINGS_MIN_DF_FRAC) * F.col("n_docs"))
        & (F.col("df_docs") <= F.lit(POSTINGS_MAX_DF_FRAC) * F.col("n_docs"))
    ).select(
        "term",
        "df_docs",
        F.array_join(F.col("plist"), ",").alias("postings"),
    )


# -------------------------------------------- hybrid rank fusion
RRF_K = 60  #: standard reciprocal-rank-fusion damping constant
RRF_POOL = 50  #: per-ranker candidate pool
RRF_TOP = 15  #: fused results returned


def _rrf_oracle() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    bm_pivots, ti_pivots = [], []
    bm_total = ti_total = ""
    for i, t in enumerate(BM25_QUERY_TERMS):
        bm_pivots.append(
            f"max(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        )
        ti_pivots.append(
            f"max(CASE WHEN term = '{t}' THEN score2 END) AS t{i}"
        )
        bm_piece = f"COALESCE(s{i}, 0.0)"
        ti_piece = f"COALESCE(t{i}, 0.0)"
        bm_total = bm_piece if i == 0 else f"({bm_total} + {bm_piece})"
        ti_total = ti_piece if i == 0 else f"({ti_total} + {ti_piece})"
    return f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    g AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
                  / (SELECT count(*) FROM dl)) AS avgdl),
    tfq AS (SELECT doc_id, w AS term, count(*) AS tf FROM t
            WHERE w IN ({terms_sql}) GROUP BY doc_id, w),
    dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
    s AS (SELECT tfq.doc_id, tfq.term,
                 (ln(1.0 + ((g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)))
                  * ((tfq.tf * {BM25_K1 + 1.0})
                     / (tfq.tf + ({BM25_K1} * ((1.0 - {BM25_B})
                        + ({BM25_B} * (dl.dl / g.avgdl))))))) AS score,
                 (tfq.tf * ln((g.n_docs + 1.0) / (dfq.df + 1.0)))
                     AS score2
          FROM tfq
          JOIN dl ON tfq.doc_id = dl.doc_id
          CROSS JOIN g JOIN dfq ON tfq.term = dfq.term),
    bp AS (SELECT doc_id, {', '.join(bm_pivots)} FROM s GROUP BY doc_id),
    tp AS (SELECT doc_id, {', '.join(ti_pivots)} FROM s GROUP BY doc_id),
    bmr AS (SELECT doc_id, r FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY {bm_total} DESC, doc_id) AS r FROM bp)
            WHERE r <= {RRF_POOL}),
    tir AS (SELECT doc_id, r FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY {ti_total} DESC, doc_id) AS r FROM tp)
            WHERE r <= {RRF_POOL}),
    fused AS (
        SELECT COALESCE(bmr.doc_id, tir.doc_id) AS doc_id,
               CAST(bmr.r AS INT) AS bm25_rank,
               CAST(tir.r AS INT) AS tfidf_rank,
               (COALESCE(1.0 / ({RRF_K} + bmr.r), 0.0)
                + COALESCE(1.0 / ({RRF_K} + tir.r), 0.0)) AS rrf
        FROM bmr FULL OUTER JOIN tir ON bmr.doc_id = tir.doc_id)
    SELECT doc_id, bm25_rank, tfidf_rank,
           CAST(ROUND(rrf, 6) AS DOUBLE) AS rrf_score,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
               AS fused_rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """


def _fused_query_stats(spark: SparkSession, sf_dir: str):
    """ONE fused token pass (the PRF doc_stats trick, #9): document
    length AND every query-term tf ride a single grouped scan, plus
    the 1-row globals frame (n_docs, avgdl, per-term df). The
    previous shapes ran the full token explode twice (dl, tfq) and
    re-pivoted per-(doc, term) score rows per consumer. Returns
    (stats persisted, g) — shared by the RRF rankers and the NDCG
    audit."""
    from kinesis_analytics_demo_spark.caching import tracked_persist

    docs = _t(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    nq = len(BM25_QUERY_TERMS)
    stats = tracked_persist(
        toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(
                    f"tf{i}"
                )
                for i, t in enumerate(BM25_QUERY_TERMS)
            ],
        )
    )
    g = (
        stats.agg(
            F.count(F.lit(1)).alias("n_len_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(
                    f"df{i}"
                )
                for i in range(nq)
            ],
        )
        .crossJoin(
            F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
        )
        .select(
            "n_docs",
            (F.col("sum_dl").cast("double") / F.col("n_len_docs")).alias(
                "avgdl"
            ),
            *[f"df{i}" for i in range(nq)],
        )
    )
    return stats, g


# Per-term scores from the pivoted stat columns — the SAME expression
# shapes as the per-(doc, term) row form (IEEE-identical doubles),
# guarded to NULL when the doc lacks the term, summed in fixed term
# order by _query_total.
def _bm_score_i(i: int):
    idf = F.log(
        F.lit(1.0)
        + (
            (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
        )
    )
    norm = F.col(f"tf{i}") + (
        F.lit(BM25_K1)
        * (
            (F.lit(1.0) - F.lit(BM25_B))
            + (F.lit(BM25_B) * (F.col("dl") / F.col("avgdl")))
        )
    )
    return idf * ((F.col(f"tf{i}") * F.lit(BM25_K1 + 1.0)) / norm)


def _ti_score_i(i: int):
    return F.col(f"tf{i}") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col(f"df{i}") + F.lit(1.0))
    )


def _any_query_term():
    """Pool/relevance membership = docs holding at least one query
    term (the old per-(doc, term) row presence); without it zero-score
    docs would pad pools shorter than the pool size."""
    cond = None
    for i in range(len(BM25_QUERY_TERMS)):
        c = F.col(f"tf{i}") > 0
        cond = c if cond is None else (cond | c)
    return cond


def _query_total(score_fn):
    total = None
    for i in range(len(BM25_QUERY_TERMS)):
        piece = F.coalesce(
            F.when(F.col(f"tf{i}") > 0, score_fn(i)), F.lit(0.0)
        )
        total = piece if total is None else (total + piece)
    return total


def _rrf_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 + TF-IDF pool rankings with the RRF sum: returns
    (doc_id, bm25_rank, tfidf_rank, rrf) over the union of the two
    top pools — consumed by retrieval_rrf_fusion (fused top-15) and
    ranker_agreement_tau (tau/rho over the pool intersection)."""
    stats, g = _fused_query_stats(spark, sf_dir)

    def _ranked(score_fn) -> DataFrame:
        total = _query_total(score_fn)
        w = Window.orderBy(F.desc("tot"), "doc_id")
        return (
            stats.filter(_any_query_term())
            .crossJoin(F.broadcast(g))
            .select("doc_id", total.alias("tot"))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= RRF_POOL)
            .select("doc_id", "r")
        )

    bmr = _ranked(_bm_score_i)
    tir = _ranked(_ti_score_i).withColumnRenamed("r", "r2")
    fused = (
        bmr.join(tir, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.col("r").cast("int").alias("bm25_rank"),
            F.col("r2").cast("int").alias("tfidf_rank"),
            (
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("r")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("r2")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    return fused


@register(
    "retrieval_rrf_fusion",
    oracle=_rrf_oracle(),
    doc=f"Hybrid-search rank fusion: BM25 and smoothed-TF-IDF "
    f"rankings for the same fixed query {BM25_QUERY_TERMS} are fused "
    "by Reciprocal Rank Fusion (Cormack et al. 2009): rrf = sum over "
    "rankers of 1/(60 + rank), over each ranker's top-50 pool — the "
    "standard way modern retrieval stacks combine lexical and "
    "semantic scorers without calibrating their score scales "
    "(fusion uses only RANKS, which are exact integers; the two "
    "reciprocal terms add in fixed left-to-right order). Both "
    "rankings come from ONE shared token scan (the per-term tf "
    "pivots feed both scorers), ranked by TakeOrderedAndProject, "
    "fused by a 50x50 full outer join on doc_id. At 100 TB the "
    "posting-list prefilter bounds everything downstream of the "
    "scan at pool size.",
)

def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    fused = _rrf_rankings(spark, sf_dir)
    wf = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "doc_id",
            "bm25_rank",
            "tfidf_rank",
            F.round("rrf", 6).cast("double").alias("rrf_score"),
            "fused_rank",
        )
    )


# -------------------------------- pseudo-relevance feedback (PRF)
PRF_FB_DOCS = 10  #: feedback depth (top-k of the first BM25 pass)
PRF_EXP_TERMS = 5  #: expansion terms mined from the feedback docs
PRF_EXP_W = 0.5  #: Rocchio-style expansion term weight


def _prf_oracle() -> str:
    from kinesis_analytics_demo_spark.operators.text import _SQL_STOPLIST

    qterms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    qvals = ", ".join(f"('{t}', 1.0)" for t in BM25_QUERY_TERMS)
    # pass-1 pivoted fixed-order total (the bm25_search form)
    total = ""
    pivots = []
    for i, t in enumerate(BM25_QUERY_TERMS):
        pivots.append(f"max(CASE WHEN term = '{t}' THEN score END) AS s{i}")
        piece = f"COALESCE(s{i}, 0.0)"
        total = piece if i == 0 else f"({total} + {piece})"
    bm25 = (
        f"(ln(1.0 + ((g.n_docs - dfx.df + 0.5) / (dfx.df + 0.5)))"
        f" * ((tfx.tf * {BM25_K1 + 1.0})"
        f"    / (tfx.tf + ({BM25_K1} * ((1.0 - {BM25_B})"
        f"       + ({BM25_B} * (dl.dl / g.avgdl)))))))"
    )
    return f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    g AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
                  / (SELECT count(*) FROM dl)) AS avgdl),
    tfq AS (SELECT doc_id, w AS term, count(*) AS tf FROM t
            WHERE w IN ({qterms_sql}) GROUP BY doc_id, w),
    dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
    s1 AS (SELECT tfq.doc_id, tfq.term,
                  {bm25.replace('dfx', 'dfq2').replace('tfx', 'tfq2')
                       .replace('dfq2', 'dfq').replace('tfq2', 'tfq')} AS score
           FROM tfq JOIN dl ON tfq.doc_id = dl.doc_id
           CROSS JOIN g JOIN dfq ON tfq.term = dfq.term),
    p1 AS (SELECT doc_id, {', '.join(pivots)} FROM s1 GROUP BY doc_id),
    fb AS (SELECT doc_id FROM (SELECT doc_id, {total} AS bm25 FROM p1)
           ORDER BY bm25 DESC, doc_id LIMIT {PRF_FB_DOCS}),
    exp AS (SELECT w AS term FROM t JOIN fb USING (doc_id)
            WHERE w NOT IN ({qterms_sql})
              AND NOT list_contains({_SQL_STOPLIST}, w)
            GROUP BY w ORDER BY count(*) DESC, w LIMIT {PRF_EXP_TERMS}),
    terms AS (SELECT * FROM (VALUES {qvals}) AS q(term, wt)
              UNION ALL SELECT term, {PRF_EXP_W} FROM exp),
    tfx AS (SELECT t.doc_id, t.w AS term, count(*) AS tf FROM t
            JOIN terms ON t.w = terms.term GROUP BY t.doc_id, t.w),
    dfx AS (SELECT term, count(*) AS df FROM tfx GROUP BY term),
    s2 AS (SELECT tfx.doc_id, tfx.term, terms.wt * {bm25} AS ws
           FROM tfx JOIN dl ON tfx.doc_id = dl.doc_id
           CROSS JOIN g JOIN dfx ON tfx.term = dfx.term
           JOIN terms ON tfx.term = terms.term),
    agg AS (SELECT doc_id,
                   list_reduce(
                       [0.0] || [x.ws for x in
                                 list_sort(list({{'t': term, 'ws': ws}}))],
                       (a, b) -> a + b) AS total
            FROM s2 GROUP BY doc_id),
    ranked AS (SELECT doc_id, total FROM agg
               ORDER BY total DESC, doc_id LIMIT {BM25_TOP_K})
    SELECT doc_id, ROUND(total, 6) AS prf_score,
           row_number() OVER (ORDER BY total DESC, doc_id) AS doc_rank
    FROM ranked
    """


@register(
    "retrieval_prf_expansion",
    oracle=_prf_oracle(),
    doc=f"Pseudo-relevance feedback query expansion (Rocchio 1971 "
    f"lineage): pass 1 runs the fixed BM25 query {BM25_QUERY_TERMS}, "
    f"takes the top {PRF_FB_DOCS} docs, mines their top "
    f"{PRF_EXP_TERMS} non-query non-stopword terms by feedback-set "
    f"term frequency (ties to term asc), and pass 2 re-scores the "
    f"corpus over the expanded query with expansion weight "
    f"{PRF_EXP_W} — recall-oriented retrieval without a model, the "
    "query-side complement to RRF's ranker fusion. Determinism: the "
    "pass-2 term set is DATA-DEPENDENT, so the per-doc score sum "
    "cannot be a fixed pivot — it folds the per-term scores in "
    "term-ASC order via a scalar-state left fold (the Holt "
    "list-state discipline: scalar DOUBLE accumulators fold "
    "correctly on both engines). Plan: pass 1 is ONE fused scan "
    "(dl and all query-term tfs in a single grouped aggregation — no "
    "posting join), expansion terms tokenize only the "
    f"{PRF_FB_DOCS} feedback docs, and pass 2 touches the corpus "
    "once more for the expansion-term postings; stats/df/term "
    "tables are 1-row/bounded broadcasts, the tf-dl join shuffles "
    "posting-list-sized frames only. Inherently 4 sequential "
    "barriers (stats -> feedback top-k -> expansion mining -> "
    "re-score): measured 2.1s warm at sf0.1, ~0.5s/barrier local "
    "scheduling latency — excluded from the bench headline under "
    "the sub-job-latency precedent.",
)
def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.caching import tracked_persist
    from kinesis_analytics_demo_spark.operators.text import EN_STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    toks = _doc_tokens(docs)
    nq = len(BM25_QUERY_TERMS)

    # pass 1, fused: document length AND every query-term tf in ONE
    # grouped scan (sum-of-when instead of a filtered posting join) —
    # the frame is n_docs rows x (1 + |q|) ints, persisted because the
    # feedback top-k, the pass-2 dl join and the pass-1 score
    # reconstruction all reuse it.
    doc_stats = tracked_persist(
        toks.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(
                    f"tf{i}"
                )
                for i, t in enumerate(BM25_QUERY_TERMS)
            ],
        )
    )
    # 1-row globals: corpus size, avgdl, per-query-term df — one agg
    # over the persisted stats, broadcast everywhere downstream.
    g = (
        doc_stats.agg(
            F.count(F.lit(1)).alias("n_len_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum(
                    F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
                ).alias(f"df{i}")
                for i in range(nq)
            ],
        )
        .crossJoin(
            F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
        )
        .select(
            "n_docs",
            (
                F.col("sum_dl").cast("double") / F.col("n_len_docs")
            ).alias("avgdl"),
            *[f"df{i}" for i in range(nq)],
        )
    )

    def bm25_score():
        idf = F.log(
            F.lit(1.0)
            + (
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
        )
        norm = F.col("tf") + (
            F.lit(BM25_K1)
            * (
                (F.lit(1.0) - F.lit(BM25_B))
                + (F.lit(BM25_B) * (F.col("dl") / F.col("avgdl")))
            )
        )
        return idf * ((F.col("tf") * F.lit(BM25_K1 + 1.0)) / norm)

    def score_i(i: int):
        """Pass-1 BM25 for query term i from the pivoted tf column —
        the same expression shape (hence bit-identical doubles) as
        bm25_score(), NULL when the doc lacks the term."""
        return F.when(
            F.col(f"tf{i}") > 0,
            (
                F.log(
                    F.lit(1.0)
                    + (
                        (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
                        / (F.col(f"df{i}") + F.lit(0.5))
                    )
                )
                * (
                    (F.col(f"tf{i}") * F.lit(BM25_K1 + 1.0))
                    / (
                        F.col(f"tf{i}")
                        + (
                            F.lit(BM25_K1)
                            * (
                                (F.lit(1.0) - F.lit(BM25_B))
                                + (
                                    F.lit(BM25_B)
                                    * (F.col("dl") / F.col("avgdl"))
                                )
                            )
                        )
                    )
                )
            ),
        )

    scored = tracked_persist(
        doc_stats.crossJoin(F.broadcast(g)).select(
            "doc_id",
            "dl",
            *[score_i(i).alias(f"s{i}") for i in range(nq)],
        )
    )
    total1 = None
    for i in range(nq):
        piece = F.coalesce(F.col(f"s{i}"), F.lit(0.0))
        total1 = piece if total1 is None else (total1 + piece)
    fb = (
        scored.select("doc_id", total1.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(PRF_FB_DOCS)
        .select("doc_id")
    )

    # expansion terms: tokenize ONLY the feedback docs (a broadcast
    # semi-join prunes the corpus scan to PRF_FB_DOCS rows before the
    # explode — no full token stream materializes for this stage).
    stoplist = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    exp = (
        _doc_tokens(docs.join(F.broadcast(fb), "doc_id"))
        .filter(
            ~F.col("w").isin(*BM25_QUERY_TERMS)
            & ~F.array_contains(stoplist, F.col("w"))
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(PRF_EXP_TERMS)
        .select(F.col("w").alias("term"))
    )

    # pass 2: one more corpus scan, filtered to the 5 expansion terms
    # at the explode (posting lists only); query-term weighted scores
    # are reconstructed from the persisted pass-1 columns (1.0 * score
    # is IEEE-exact reuse).
    tf_exp = (
        toks.join(F.broadcast(exp), toks["w"] == F.col("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_exp = tf_exp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    s_exp = (
        tf_exp.join(scored.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(g.select("n_docs", "avgdl")))
        .join(F.broadcast(df_exp), "term")
        .select(
            "doc_id",
            "term",
            (F.lit(PRF_EXP_W) * bm25_score()).alias("ws"),
        )
    )
    s1_rows = (
        scored.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"s{i}").alias("score"),
                        )
                        for i, t in enumerate(BM25_QUERY_TERMS)
                    ]
                )
            ).alias("p"),
        )
        .filter(F.col("p.score").isNotNull())
        .select(
            "doc_id",
            F.col("p.term").alias("term"),
            (F.lit(1.0) * F.col("p.score")).alias("ws"),
        )
    )
    s2 = s1_rows.unionByName(s_exp)
    agg = s2.groupBy("doc_id").agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("term", "ws"))),
                lambda x: x["ws"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("total")
    )
    ranked = agg.orderBy(F.desc("total"), F.asc("doc_id")).limit(BM25_TOP_K)
    w = Window.orderBy(F.desc("total"), F.asc("doc_id"))
    return ranked.select(
        "doc_id",
        F.round("total", 6).alias("prf_score"),
        F.row_number().over(w).alias("doc_rank"),
    )


# ----------------------------- ranker agreement (tau / rho)
def _agreement_oracle() -> str:
    """Kendall tau-a + Spearman rho between the BM25 and TF-IDF
    top-pool rankings — the rank CTE chain is generated from the
    SAME constants and pivot construction as ``_rrf_oracle`` (one
    ranking definition, two readouts)."""
    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    bm_pivots, ti_pivots = [], []
    bm_total = ti_total = ""
    for i, t in enumerate(BM25_QUERY_TERMS):
        bm_pivots.append(
            f"max(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        )
        ti_pivots.append(
            f"max(CASE WHEN term = '{t}' THEN score2 END) AS t{i}"
        )
        bm_piece = f"COALESCE(s{i}, 0.0)"
        ti_piece = f"COALESCE(t{i}, 0.0)"
        bm_total = bm_piece if i == 0 else f"({bm_total} + {bm_piece})"
        ti_total = ti_piece if i == 0 else f"({ti_total} + {ti_piece})"
    return f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    g AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
                  / (SELECT count(*) FROM dl)) AS avgdl),
    tfq AS (SELECT doc_id, w AS term, count(*) AS tf FROM t
            WHERE w IN ({terms_sql}) GROUP BY doc_id, w),
    dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
    s AS (SELECT tfq.doc_id, tfq.term,
                 (ln(1.0 + ((g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)))
                  * ((tfq.tf * {BM25_K1 + 1.0})
                     / (tfq.tf + ({BM25_K1} * ((1.0 - {BM25_B})
                        + ({BM25_B} * (dl.dl / g.avgdl))))))) AS score,
                 (tfq.tf * ln((g.n_docs + 1.0) / (dfq.df + 1.0)))
                     AS score2
          FROM tfq
          JOIN dl ON tfq.doc_id = dl.doc_id
          CROSS JOIN g JOIN dfq ON tfq.term = dfq.term),
    bp AS (SELECT doc_id, {', '.join(bm_pivots)} FROM s GROUP BY doc_id),
    tp AS (SELECT doc_id, {', '.join(ti_pivots)} FROM s GROUP BY doc_id),
    bmr AS (SELECT doc_id, r FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY {bm_total} DESC, doc_id) AS r FROM bp)
            WHERE r <= {RRF_POOL}),
    tir AS (SELECT doc_id, r FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY {ti_total} DESC, doc_id) AS r FROM tp)
            WHERE r <= {RRF_POOL}),
    common AS (
        SELECT bmr.doc_id, bmr.r AS r1, tir.r AS r2
        FROM bmr JOIN tir ON bmr.doc_id = tir.doc_id),
    pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS disc
        FROM common a JOIN common b ON a.doc_id < b.doc_id),
    st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST((r1 - r2) AS BIGINT) * (r1 - r2))
                    AS BIGINT) AS d2
        FROM common)
    SELECT st.n AS n_common, pairs.conc AS n_concordant,
           pairs.disc AS n_discordant,
           CASE WHEN st.n >= 2 THEN
               ROUND(CAST(pairs.conc - pairs.disc AS DOUBLE)
                     / (CAST(st.n AS DOUBLE) * (st.n - 1) / 2.0), 6)
               + 0.0 END AS kendall_tau,
           CASE WHEN st.n >= 2 THEN
               ROUND(1.0 - 6.0 * d2
                     / (CAST(st.n AS DOUBLE) * (st.n * st.n - 1)), 6)
               + 0.0 END AS spearman_rho
    FROM st, pairs
    """


@register(
    "ranker_agreement_tau",
    oracle=_agreement_oracle(),
    doc=f"Rank agreement between the BM25 and smoothed-TF-IDF "
    f"rankings of the shared query {BM25_QUERY_TERMS} (the two "
    "rankers retrieval_rrf_fusion fuses): over the docs present in "
    "BOTH top-pools, Kendall tau-a from exact concordant/discordant "
    "pair counts (pool ranks are distinct row_numbers — no ties by "
    "construction) and Spearman rho from the integer sum of squared "
    "rank differences. The diversity diagnostic that tells you "
    "whether fusing the rankers can help at all: tau near 1 means "
    "they are redundant (fusion adds nothing), low tau with good "
    "individual recall is exactly where RRF wins. Determinism: all "
    "pair counts and d^2 are exact integers; each coefficient is "
    "one fixed IEEE expression under ROUND(.,6) with the -0.0 "
    "normalizer. Scale: everything downstream of the shared token "
    "scan is bounded by the pool size (the O(pool^2) pair join is "
    f"{RRF_POOL}^2 rows regardless of corpus size).",
)
def ranker_agreement_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.caching import tracked_persist

    ranks = tracked_persist(_rrf_rankings(spark, sf_dir))
    common = ranks.filter(
        F.col("bm25_rank").isNotNull() & F.col("tfidf_rank").isNotNull()
    ).select(
        "doc_id",
        F.col("bm25_rank").alias("r1"),
        F.col("tfidf_rank").alias("r2"),
    )
    common = tracked_persist(common)
    a = common.select(
        F.col("doc_id").alias("da"),
        F.col("r1").alias("a1"),
        F.col("r2").alias("a2"),
    )
    b = common.select(
        F.col("doc_id").alias("db"),
        F.col("r1").alias("b1"),
        F.col("r2").alias("b2"),
    )
    prod = (F.col("a1") - F.col("b1")) * (F.col("a2") - F.col("b2"))
    pairs = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("conc"),
            F.sum(F.when(prod < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("disc"),
        )
    )
    st = common.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("r1") - F.col("r2")).cast("bigint")
            * (F.col("r1") - F.col("r2"))
        )
        .cast("bigint")
        .alias("d2"),
    )
    n = F.col("n")
    return st.crossJoin(F.broadcast(pairs)).select(
        n.alias("n_common"),
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.when(
            n >= 2,
            F.round(
                (F.col("conc") - F.col("disc")).cast("double")
                / (n.cast("double") * (n - 1) / F.lit(2.0)),
                6,
            )
            + F.lit(0.0),
        ).alias("kendall_tau"),
        F.when(
            n >= 2,
            F.round(
                F.lit(1.0)
                - F.lit(6.0)
                * F.col("d2")
                / (n.cast("double") * (n * n - 1)),
                6,
            )
            + F.lit(0.0),
        ).alias("spearman_rho"),
    )


# --------------------------------------- NDCG retrieval-quality audit
NDCG_K = 10


def _ndcg_oracle() -> str:
    terms_sql = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    total = ""
    pivots = []
    for i, t in enumerate(BM25_QUERY_TERMS):
        pivots.append(
            f"max(CASE WHEN term = '{t}' THEN score END) AS s{i}"
        )
        piece = f"COALESCE(s{i}, 0.0)"
        total = piece if i == 0 else f"({total} + {piece})"
    return f"""
    WITH t AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    g AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (CAST((SELECT sum(dl) FROM dl) AS DOUBLE)
                  / (SELECT count(*) FROM dl)) AS avgdl),
    tfq AS (SELECT doc_id, w AS term, count(*) AS tf FROM t
            WHERE w IN ({terms_sql}) GROUP BY doc_id, w),
    rel AS (SELECT doc_id, count(*) AS rel FROM tfq GROUP BY doc_id),
    dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
    s AS (SELECT tfq.doc_id, tfq.term,
                 (ln(1.0 + ((g.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)))
                  * ((tfq.tf * {BM25_K1 + 1.0})
                     / (tfq.tf + ({BM25_K1} * ((1.0 - {BM25_B})
                        + ({BM25_B} * (dl.dl / g.avgdl))))))) AS score
          FROM tfq
          JOIN dl ON tfq.doc_id = dl.doc_id
          CROSS JOIN g JOIN dfq ON tfq.term = dfq.term),
    p AS (SELECT doc_id, {', '.join(pivots)} FROM s GROUP BY doc_id),
    ranked AS (SELECT doc_id, {total} AS bm25 FROM p
               ORDER BY bm25 DESC, doc_id LIMIT {NDCG_K}),
    sysr AS (SELECT doc_id,
                    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
             FROM ranked),
    dcg_t AS (
        SELECT CAST(ROUND((pow(2.0, rel.rel) - 1.0)
                          / log2(sysr.r + 1.0), 12)
                    AS DECIMAL(28,12)) AS term
        FROM sysr JOIN rel ON rel.doc_id = sysr.doc_id),
    ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id)
                         AS r
              FROM rel),
    idcg_t AS (
        SELECT CAST(ROUND((pow(2.0, rel) - 1.0) / log2(r + 1.0), 12)
                    AS DECIMAL(28,12)) AS term
        FROM ideal WHERE r <= {NDCG_K}),
    agg AS (
        SELECT (SELECT CAST(SUM(term) AS DOUBLE) FROM dcg_t) AS dcg,
               (SELECT CAST(SUM(term) AS DOUBLE) FROM idcg_t) AS idcg,
               (SELECT count(*) FROM rel) AS n_relevant)
    SELECT CAST({NDCG_K} AS INT) AS k,
           CAST(n_relevant AS BIGINT) AS n_relevant,
           CAST(ROUND(dcg, 6) AS DOUBLE) AS dcg,
           CAST(ROUND(idcg, 6) AS DOUBLE) AS idcg,
           CAST(ROUND(dcg / idcg, 6) AS DOUBLE) AS ndcg
    FROM agg
    """


@register(
    "retrieval_ndcg_audit",
    oracle=_ndcg_oracle(),
    doc=f"NDCG@{NDCG_K} of the BM25 ranking (Jarvelin & Kekalainen "
    "2002) against a term-coverage relevance oracle: a document's "
    "graded relevance = how many of the fixed query's "
    f"{len(BM25_QUERY_TERMS)} terms it contains (0-4), DCG uses the "
    "standard (2^rel - 1)/log2(rank + 1) gains over BM25's top-"
    f"{NDCG_K} (the bm25_search ranking verbatim), IDCG over the "
    "relevance-ideal ordering — the retrieval-evaluation readout "
    "that closes the loop on the BM25/TF-IDF/RRF/PRF family (is the "
    "ranker actually putting high-coverage docs first?). Gains are "
    "exact integers; each positional term is rounded to 12 dp and "
    "summed in exact DECIMAL, so the 10-term sums are order-free. "
    "Scale: everything beyond the bm25_search plan is O(K) rows "
    "plus one posting-list relevance rollup.",
)
def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared fused-stats shape (see _fused_query_stats): one token
    # pass instead of two, scores from the pivoted columns instead of
    # a per-(doc, term) row pivot.
    stats, g = _fused_query_stats(spark, sf_dir)
    # rel = number of distinct query terms present per doc (the old
    # per-(doc, term) row count), derived map-side from the cache.
    rel_expr = None
    for i in range(len(BM25_QUERY_TERMS)):
        c = F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)
        rel_expr = c if rel_expr is None else (rel_expr + c)
    rel = stats.filter(_any_query_term()).select(
        "doc_id", rel_expr.cast("bigint").alias("rel")
    )
    ranked = (
        stats.filter(_any_query_term())
        .crossJoin(F.broadcast(g))
        .select("doc_id", _query_total(_bm_score_i).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(NDCG_K)
    )
    sysr = ranked.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r"),
    )
    gain = lambda: (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
    dcg_t = sysr.join(rel, "doc_id").select(
        F.round(gain() / F.log2(F.col("r") + F.lit(1.0)), 12)
        .cast("decimal(28,12)")
        .alias("term")
    )
    ideal = rel.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("rel"), F.asc("doc_id")))
        .alias("r"),
    ).where(F.col("r") <= NDCG_K)
    idcg_t = ideal.select(
        F.round(gain() / F.log2(F.col("r") + F.lit(1.0)), 12)
        .cast("decimal(28,12)")
        .alias("term")
    )
    dcg = dcg_t.agg(F.sum("term").cast("double").alias("dcg"))
    idcg = idcg_t.agg(F.sum("term").cast("double").alias("idcg"))
    nrel = rel.agg(F.count(F.lit(1)).alias("n_relevant"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(nrel))
        .select(
            F.lit(NDCG_K).cast("int").alias("k"),
            F.col("n_relevant").cast("bigint").alias("n_relevant"),
            F.round(F.col("dcg"), 6).cast("double").alias("dcg"),
            F.round(F.col("idcg"), 6).cast("double").alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6)
            .cast("double")
            .alias("ndcg"),
        )
    )
