"""Invariant tests for the retrieval (tf-idf / BM25 / inverted index),
CDC (upsert / SCD2), and fuzzy-decontamination operators — semantic
properties the oracle-parity gate can't express (parity proves Spark ==
DuckDB; these prove both compute the *intended* thing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis_analytics_demo_spark.operators.cdc import (
    TOMBSTONE_TYPE,
    cdc_upsert_latest,
    scd2_event_type_intervals,
)
from kinesis_analytics_demo_spark.operators.features import (
    user_feature_vector,
    winsorize_event_values,
)
from kinesis_analytics_demo_spark.operators.retrieval import (
    BM25_TOP_K,
    POSTINGS_LIST_CAP,
    TFIDF_TOP_K,
    bm25_search,
    inverted_index_postings,
    tfidf_top_terms,
)
from kinesis_analytics_demo_spark.operators.training import (
    BENCHMARK_MAX_DOC_ID,
    FUZZY_CONTAM_THRESHOLD,
    decontamination_minhash,
)
from kinesis_analytics_demo_spark.session import read_table
from tests.conftest import SF_MEDIUM


def test_tfidf_top_k_per_doc(spark):
    rows = tfidf_top_terms(spark, SF_MEDIUM).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in per_doc.items():
        ranks = sorted(x.term_rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1)), doc_id
        assert len(rs) <= TFIDF_TOP_K
        # rank order must agree with score order (ties broken by term)
        by_rank = sorted(rs, key=lambda x: x.term_rank)
        scores = [x.tfidf for x in by_rank]
        assert scores == sorted(scores, reverse=True), doc_id


def test_bm25_ranked_and_bounded(spark):
    rows = bm25_search(spark, SF_MEDIUM).orderBy("doc_rank").collect()
    assert 0 < len(rows) <= BM25_TOP_K
    assert [r.doc_rank for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_inverted_index_postings_sorted_and_capped(spark):
    rows = inverted_index_postings(spark, SF_MEDIUM).collect()
    assert rows, "df band should keep the mid-frequency vocabulary"
    for r in rows:
        ids = [int(x) for x in r.postings.split(",")]
        assert ids == sorted(ids)
        assert len(ids) == min(r.df_docs, POSTINGS_LIST_CAP)


def test_cdc_upsert_latest_state(spark):
    ev = read_table(spark, SF_MEDIUM, "events")
    out = {r.user_id: r for r in cdc_upsert_latest(spark, SF_MEDIUM).collect()}
    # recompute expected latest per user driver-side
    by_user: dict[int, list] = {}
    for r in ev.select("user_id", "ts", "event_id", "event_type", "value").collect():
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rs in by_user.items():
        latest = max(rs, key=lambda x: (x.ts, x.event_id))
        if latest.event_type == TOMBSTONE_TYPE:
            assert uid not in out, f"tombstoned user {uid} must be deleted"
        else:
            got = out[uid]
            assert got.last_ts == latest.ts
            assert got.last_value == latest.value
            assert got.n_changes == len(rs)
    assert set(out) <= set(by_user)


def test_scd2_intervals_partition_history(spark):
    ev = read_table(spark, SF_MEDIUM, "events")
    n_events = ev.count()
    iv = scd2_event_type_intervals(spark, SF_MEDIUM)
    assert iv.agg(F.sum("n_events")).collect()[0][0] == n_events
    rows = iv.collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, rs in by_user.items():
        rs = sorted(rs, key=lambda x: x.valid_from)
        # exactly one open interval, and it is the last one
        assert [x.is_current for x in rs].count(True) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        # half-open intervals tile the timeline: no gaps, no overlaps
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from, uid
        # consecutive intervals must actually change the attribute
        for a, b in zip(rs, rs[1:]):
            assert a.event_type != b.event_type, uid


def test_decontamination_minhash_thresholded_train_only(spark):
    rows = decontamination_minhash(spark, SF_MEDIUM).collect()
    assert rows, "the synthetic corpus plants bench-train near-dups"
    for r in rows:
        assert r.doc_id >= BENCHMARK_MAX_DOC_ID
        assert r.max_jaccard >= FUZZY_CONTAM_THRESHOLD
        assert r.n_contaminating_bench >= 1


def test_tfidf_plans_window_group_limit(spark):
    """The per-doc top-k must push below the window (WindowGroupLimit),
    not sort whole partitions."""
    plan = (
        tfidf_top_terms(spark, SF_MEDIUM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def _formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_user_feature_vector_two_phase_distinct(spark):
    """The planner's two-phase distinct aggregate and nothing more:
    exactly two Exchanges (partial on (user_id, day), final on
    user_id), no windows, no joins — the plan the docstring
    promises."""
    import re

    plan = _formatted_plan(spark, user_feature_vector(spark, SF_MEDIUM))
    lines = plan.splitlines()
    exchanges = [l for l in lines if re.match(r"^\(\d+\) Exchange", l)]
    assert len(exchanges) == 2
    assert "hashpartitioning(user_id" in plan
    assert "Window" not in plan and "Join" not in plan


def test_cdc_upsert_single_combined_aggregate(spark):
    """Latest-per-key as ONE map-side-combinable aggregate: a single
    Exchange carrying partial rows, no window operator at all (the
    row_number spelling shuffles every changelog row once n_changes
    rides along)."""
    import re

    plan = _formatted_plan(spark, cdc_upsert_latest(spark, SF_MEDIUM))
    lines = plan.splitlines()
    exchanges = [l for l in lines if re.match(r"^\(\d+\) Exchange", l)]
    assert len(exchanges) == 1
    assert "Window" not in plan


def test_scd2_single_user_shuffle(spark):
    """The whole gaps-and-islands history build must reuse ONE
    user_id partitioning: no exchange between the two row_numbers,
    the groupBy, and the lead window."""
    import re

    plan = _formatted_plan(spark, scd2_event_type_intervals(spark, SF_MEDIUM))
    lines = plan.splitlines()
    exchanges = [l for l in lines if re.match(r"^\(\d+\) Exchange", l)]
    # one shuffle for the (user_id, event_type) window, one for the
    # user_id-only windows/groupBy at most — Spark cannot reuse a
    # (user_id, event_type) partitioning for user_id windows, but the
    # user_id-side chain (row_number, groupBy, lead) must share one
    assert len(exchanges) <= 2, plan


def test_winsorize_broadcasts_bounds(spark):
    """The 5-row bounds table must broadcast; the event stream must
    not sort-merge against it."""
    plan = _formatted_plan(spark, winsorize_event_values(spark, SF_MEDIUM))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rrf_pool_excludes_termless_docs(spark, tmp_path):
    """Short-pool guard for the fused-stats RRF rewrite (r11): when
    fewer than RRF_POOL documents contain any query term, the pools
    must hold ONLY matching documents — a doc with zero query terms
    must never pad a pool with a zero score (the per-(doc, term) row
    formulation excluded them by construction; the pivoted per-doc
    formulation needs the explicit membership filter)."""
    from kinesis_analytics_demo_spark.operators.retrieval import (
        BM25_QUERY_TERMS,
        retrieval_rrf_fusion,
    )

    rows = [
        # three docs holding query terms, many filler docs without
        (1, f"{BM25_QUERY_TERMS[0]} alpha beta", "en", "s0", 10),
        (2, f"{BM25_QUERY_TERMS[1]} gamma", "en", "s0", 9),
        (3, f"{BM25_QUERY_TERMS[0]} {BM25_QUERY_TERMS[2]}", "en", "s0", 8),
    ] + [
        (100 + i, "filler words only here", "en", "s1", 22)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    path = str(tmp_path)
    df.write.mode("overwrite").parquet(path + "/documents.parquet")
    out = retrieval_rrf_fusion(spark, path).collect()
    got = {r.doc_id for r in out}
    assert got <= {1, 2, 3}, got
    assert len(got) == 3
    for r in out:
        assert r.rrf_score > 0.0


def test_duplicate_query_terms_raise_value_error():
    """The duplicate-term guard is a real check, not an ``assert`` that
    ``python -O`` strips: a repeated term raises ValueError, and the
    shipped terms pass."""
    import pytest

    from kinesis_analytics_demo_spark.operators.retrieval import (
        BM25_QUERY_TERMS,
        check_distinct_terms,
    )

    check_distinct_terms(BM25_QUERY_TERMS)
    with pytest.raises(ValueError, match="duplicate-free"):
        check_distinct_terms(("hash", "scan", "hash"))
