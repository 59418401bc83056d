"""Unit tests for the driver-vs-driver bench calibration tool and the
probe-dial bit-stability invariant (round 10).

The dial invariant is the load-bearing one: the MNN/kNN adaptive
nprobe coefficients are configurable, and the documented contract is
that ANY value inside the stated range leaves every test SF's result
bit-identical because the nprobe FLOOR binds there. This test
recomputes the binding condition from the actual test-SF corpus
sizes, so a regenerated testdata drop or a changed K formula that
silently broke the contract would fail here, not in a driver row.
"""

from __future__ import annotations

import json
import math

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tools.bench_compare import tail_queries

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def test_tail_queries_prefers_parsed_detail(tmp_path):
    p = tmp_path / "bench_old.json"
    p.write_text(json.dumps({
        "parsed": {"queries": {"q1": 1.0, "q2": 2.0}},
        # the tail fragment disagrees on q1 and leaks a meta key —
        # the parsed detail must win and meta keys must be dropped
        "tail": '"q1": 9.0, "q3": 3.0, "sf": 0.1, "reps": 2',
    }))
    q = tail_queries(str(p))
    assert q == {"q1": 1.0, "q2": 2.0, "q3": 3.0}


def test_tail_queries_falls_back_to_tail_fragment(tmp_path):
    p = tmp_path / "bench_new.json"
    p.write_text(json.dumps({
        "tail": 'lineitem\\": 1.1, \\"q_a\\": 0.5, \\"value\\": 64.9',
    }))
    q = tail_queries(str(p))
    # truncated leading fragment ("lineitem) is a query-name artifact
    # of the 2000-char window — harmless as long as real names parse
    assert q["q_a"] == 0.5
    assert "value" not in q


def _n_embeddings(sf_dir: str) -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()[0][0]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_mnn_dial_range_floor_binds_at_test_sfs(sf_dir):
    """Any MNN_NP_COEF in the documented [0.69, 1.38] keeps np at the
    floor (5) for every test SF — the bit-stability contract."""
    n = _n_embeddings(sf_dir)
    k = max(1, math.floor(math.sqrt((n * 9) // 100)))
    for coef in (0.69, 0.86, 1.2, 1.38):
        assert math.ceil(coef * math.sqrt(k)) <= 5, (sf_dir, n, k, coef)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_knn_dial_range_floor_binds_at_test_sfs(sf_dir):
    """Any KNN_NP_COEF in the documented (0, 0.61] keeps np at the
    floor (3) for every test SF."""
    n = _n_embeddings(sf_dir)
    k = max(1, math.floor(math.sqrt((n * 3) // 10)))
    for coef in (0.38, 0.51, 0.6, 0.61):
        assert math.ceil(coef * math.sqrt(k)) <= 3, (sf_dir, n, k, coef)


def test_dial_defaults_match_documented_operating_points():
    from kinesis_analytics_demo_spark.operators.curation2 import KNN_NP_COEF
    from kinesis_analytics_demo_spark.operators.similarity2 import MNN_NP_COEF

    # 100x corpus: n=200k -> K_mnn=134, K_knn=244; the defaults must
    # land the measured frontier points (np=10 both)
    assert math.ceil(MNN_NP_COEF * math.sqrt(134)) == 10
    assert math.ceil(KNN_NP_COEF * math.sqrt(244)) == 10


def test_tail_queries_drops_window_start_and_mid_string_artifacts(tmp_path):
    """ADVICE r10: a key at the arbitrary window start may be
    truncated and must be dropped; a '": N' shape inside a quoted
    string value (not preceded by '{' or ',') must not parse."""
    p = tmp_path / "bench.json"
    p.write_text(json.dumps({
        # "_ann_lsh" is "similarity_ann_lsh" cut at the window start —
        # the quote survived the cut, the name prefix did not
        "tail": '"_ann_lsh": 7.7, \\"q_a\\": 0.5, '
                'junk \\"not_a_key\\": 9.9, \\"q_b\\": 1.5e-2',
    }))
    q = tail_queries(str(p))
    assert "_ann_lsh" not in q          # window-start artifact dropped
    assert "not_a_key" not in q         # no '{'/',' boundary before it
    assert q == {"q_a": 0.5, "q_b": 0.015}  # scientific notation parses


def test_main_usage_on_missing_args(monkeypatch, capsys):
    import tools.bench_compare as bc

    monkeypatch.setattr("sys.argv", ["bench_compare.py"])
    with pytest.raises(SystemExit, match="usage"):
        bc.main()


def test_knn_crank_dial_contract():
    """The crank dial's bit-stability contract: default 1 (disjoint
    lists, no dedup stage, results bit-identical to the pre-dial
    code — proven vs the pre-dial oracle at sf0.001/0.01), and the
    oracle SQL embeds the SAME value so both engines agree at any
    setting (parity re-verified at crank=2 and 3 both small SFs)."""
    from kinesis_analytics_demo_spark.operators import curation2 as c2
    from kinesis_analytics_demo_spark.plans.registry import get_query

    assert c2.KNN_CRANK == 1
    assert isinstance(c2.KNN_CRANK, int)
    assert c2._KNN_DISTINCT == ""
    oracle = get_query("label_knn_disagreement_bucketed").oracle
    assert f"crank <= {c2.KNN_CRANK}" in oracle  # oracle mirrors the dial


def test_tail_queries_reads_solo_bench_capture(tmp_path):
    """A solo `python bench.py > f` capture has the full-detail JSON on
    line 1 (top-level `queries`) and a driver-style top-15 line after
    it — tail_queries must read the detail line so round-end solo
    brackets need no hand-wrapping into the driver shape."""
    p = tmp_path / "bench_solo.json"
    p.write_text(
        json.dumps({"metric": "headline_queries_wall_sec", "value": 3.0,
                    "queries": {"q1": 1.0, "q2": 2.0}, "sf": 0.1})
        + "\n"
        + json.dumps({"value": 3.0, "queries": {"q1": 1.0},
                      "queries_shown": "top15_by_sec"})
        + "\n"
    )
    assert tail_queries(str(p)) == {"q1": 1.0, "q2": 2.0}


def test_tail_queries_empty_file_exits_cleanly(tmp_path):
    """A crashed bench run leaves a 0-byte capture; the tool must say
    so instead of dying with a JSON/IndexError traceback."""
    p = tmp_path / "empty.json"
    p.write_text("")
    with pytest.raises(SystemExit, match="empty"):
        tail_queries(str(p))


def test_split_modules_import_first_in_fresh_process():
    """Round-11 split contract: the split-out modules must be
    importable FIRST in a fresh interpreter (each imports the names it
    shares from its head module: dedup_embedding from dedup,
    reference_queries2 from reference_queries)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "import kinesis_analytics_demo_spark.operators.dedup_embedding as de\n"
        "import kinesis_analytics_demo_spark.operators.dedup as d\n"
        "assert de.NEAR_DUP_NPROBE == d.NEAR_DUP_NPROBE\n"
        "import kinesis_analytics_demo_spark.plans.reference_queries2 as r2\n"
        "from kinesis_analytics_demo_spark.plans import registry as R\n"
        "R._load_all_modules()\n"
        "assert len(R._REGISTRY) == 302\n"
        "print('ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "ok"


@given(
    queries=st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,30}", fullmatch=True),
        st.floats(min_value=1e-6, max_value=1e4, allow_nan=False,
                  allow_infinity=False).map(lambda v: round(v, 6)),
        min_size=1,
        max_size=20,
    ),
    cut=st.integers(min_value=0, max_value=400),
)
@settings(max_examples=60, deadline=None)
def test_tail_queries_truncated_window_property(queries, cut, tmp_path_factory):
    """Property pin for the driver-tail fallback parser: for ANY query
    dict serialized the way the driver's 2000-char window does
    (backslash-escaped quotes, truncated at an arbitrary offset), every
    parsed entry must be a true (name, value) pair from the source —
    truncation may DROP entries (the window is lossy by design) but
    must never invent a name or corrupt a value (the round-10
    'lineitem' artifact class)."""
    tail_full = ", ".join(
        f'\\"{k}\\": {v!r}' for k, v in queries.items()
    )
    tail = tail_full[cut:]
    p = tmp_path_factory.mktemp("prop") / "bench.json"
    p.write_text(json.dumps({"tail": tail}))
    parsed = tail_queries(str(p))
    for name, val in parsed.items():
        assert name in queries, (name, tail[:80])
        assert val == queries[name], (name, val, queries[name])
