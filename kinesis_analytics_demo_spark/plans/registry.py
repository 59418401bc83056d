"""Central query registry.

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) ->
DataFrame`` with an equivalent DuckDB oracle SQL string (or ``None``
for genuinely non-SQL-expressible operators — the driver then records
a weaker rows-only check).

Contract (from the driver): column names/aliases MUST match between
the Spark result and the oracle result; the comparison sorts columns
by name and value-hashes rows order-insensitively.

Determinism discipline: any aggregate over floating-point columns that
is sensitive to accumulation order (sum/avg of doubles) is computed in
DECIMAL on both sides and rounded before casting back to DOUBLE, so
results are bit-identical regardless of partitioning / AQE decisions.
min/max/count/arg_min-style aggregates are order-insensitive and need
no treatment.

Order: the verify driver checks the first ``SLATE_SIZE`` entries of
``all_queries()``. That slate is derived, not pasted: the pending
``CHANGED_CODE`` leads, then the queries whose latest driver row in the
committed ``CORRECTNESS_r*.json`` files is oldest. Every other query
follows by name, so import order never shows.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # DuckDB SQL over pre-registered table views
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    import kinesis_analytics_demo_spark.operators.analytics  # noqa: F401
    import kinesis_analytics_demo_spark.operators.cdc  # noqa: F401
    import kinesis_analytics_demo_spark.operators.cep  # noqa: F401
    import kinesis_analytics_demo_spark.operators.curation  # noqa: F401
    import kinesis_analytics_demo_spark.operators.curation2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.curation3  # noqa: F401
    import kinesis_analytics_demo_spark.operators.dedup  # noqa: F401
    import kinesis_analytics_demo_spark.operators.dedup_embedding  # noqa: F401
    import kinesis_analytics_demo_spark.operators.dedup2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.evaluation  # noqa: F401
    import kinesis_analytics_demo_spark.operators.expectations  # noqa: F401
    import kinesis_analytics_demo_spark.operators.features  # noqa: F401
    import kinesis_analytics_demo_spark.operators.graph  # noqa: F401
    import kinesis_analytics_demo_spark.operators.layout  # noqa: F401
    import kinesis_analytics_demo_spark.operators.lm  # noqa: F401
    import kinesis_analytics_demo_spark.operators.multimodal  # noqa: F401
    import kinesis_analytics_demo_spark.operators.pipeline  # noqa: F401
    import kinesis_analytics_demo_spark.operators.pca  # noqa: F401
    import kinesis_analytics_demo_spark.operators.pq  # noqa: F401
    import kinesis_analytics_demo_spark.operators.profiling  # noqa: F401
    import kinesis_analytics_demo_spark.operators.relational  # noqa: F401
    import kinesis_analytics_demo_spark.operators.relational2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.relational3  # noqa: F401
    import kinesis_analytics_demo_spark.operators.relational4  # noqa: F401
    import kinesis_analytics_demo_spark.operators.relational5  # noqa: F401
    import kinesis_analytics_demo_spark.operators.retrieval  # noqa: F401
    import kinesis_analytics_demo_spark.operators.rollup  # noqa: F401
    import kinesis_analytics_demo_spark.operators.rp  # noqa: F401
    import kinesis_analytics_demo_spark.operators.similarity  # noqa: F401
    import kinesis_analytics_demo_spark.operators.similarity2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.sketches  # noqa: F401
    import kinesis_analytics_demo_spark.operators.sketches2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.sq  # noqa: F401
    import kinesis_analytics_demo_spark.operators.stats  # noqa: F401
    import kinesis_analytics_demo_spark.operators.suffix  # noqa: F401
    import kinesis_analytics_demo_spark.operators.stats2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.stats3  # noqa: F401
    import kinesis_analytics_demo_spark.operators.temporal  # noqa: F401
    import kinesis_analytics_demo_spark.operators.timeseries  # noqa: F401
    import kinesis_analytics_demo_spark.operators.text  # noqa: F401
    import kinesis_analytics_demo_spark.operators.text2  # noqa: F401
    import kinesis_analytics_demo_spark.operators.text3  # noqa: F401
    import kinesis_analytics_demo_spark.operators.text4  # noqa: F401
    import kinesis_analytics_demo_spark.functions.udfs  # noqa: F401
    import kinesis_analytics_demo_spark.operators.training  # noqa: F401
    import kinesis_analytics_demo_spark.operators.tsearch  # noqa: F401
    import kinesis_analytics_demo_spark.plans.reference_queries  # noqa: F401
    import kinesis_analytics_demo_spark.plans.reference_queries2  # noqa: F401


#: Queries whose code changed, each with the round of the change. A
#: pending entry leads the driver slate, in this order, until a driver
#: row from a LATER round exists; after that it competes on recency.
CHANGED_CODE: dict[str, int] = {
    # pq.py threads one codebook frame through _codes (round 12)
    "similarity_ivfpq_adc_rerank": 12,
    "similarity_pq_adc_rerank": 12,
    "embedding_pq_codes": 12,
}
#: The verify driver checks the FIRST this-many ``all_queries()`` entries.
SLATE_SIZE = 50
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def driver_recency(root: str, specs: Mapping[str, QuerySpec]) -> dict[str, int]:
    """Latest round with a driver row per registered query, read from the
    ``CORRECTNESS_r<N>.json`` files in ``root``. A ``no_oracle`` (rows-only)
    row does not count for a query that now has an oracle: its SQL has
    not earned a hash row yet."""
    rec: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path)[1])
        with open(path) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            spec = specs.get(name)
            if spec is None or (
                row.get("err") == "no_oracle" and spec.oracle is not None
            ):
                continue
            rec[name] = max(rec.get(name, 0), rnd)
    return rec


def driver_slate(
    specs: Mapping[str, QuerySpec],
    recency: Mapping[str, int],
    changed: Mapping[str, int] = CHANGED_CODE,
) -> list[str]:
    """The ``SLATE_SIZE`` names the driver should check next: pending
    changed-code leads first, then the stalest queries (never-checked
    first, then ascending recency, ties by name)."""
    missing = [n for n in changed if n not in specs]
    if missing:  # a rename must never silently waste a driver slot
        raise KeyError(f"CHANGED_CODE names not registered: {missing}")
    leads = [n for n, rnd in changed.items() if recency.get(n, 0) <= rnd]
    tail = sorted(specs.keys() - set(leads), key=lambda n: (recency.get(n, 0), n))
    return (leads + tail)[:SLATE_SIZE]


@functools.cache
def _slate() -> tuple[str, ...]:
    return tuple(driver_slate(_REGISTRY, driver_recency(_REPO_ROOT, _REGISTRY)))


def all_queries() -> dict[str, QuerySpec]:
    """Every query: the driver slate first, then the rest by name."""
    _load_all_modules()
    slate = _slate()
    rest = sorted(_REGISTRY.keys() - set(slate))
    return {n: _REGISTRY[n] for n in (*slate, *rest)}


def get_query(name: str) -> QuerySpec:
    _load_all_modules()
    return _REGISTRY[name]
