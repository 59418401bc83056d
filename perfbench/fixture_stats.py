#!/usr/bin/env python3
"""Compare the benchmark's generated batch tables with a directory of
fixture tables of the same schema.

    python3 perfbench/fixture_stats.py --against DIR [--seed 1]

Generates the tables ``tables.py`` writes for ``--seed`` at the
``batch`` workload's scale factor and prints, for them and for the
parquet files in ``DIR``, side by side: row counts,
document vocabulary and length, the near-duplicate share, embedding
shape, key cardinalities and the output row count of each benchmarked
query's DuckDB oracle. It needs no JVM.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb
import numpy as np

import batch
import tables

HERE = os.path.dirname(os.path.abspath(__file__))


def _shingles(text: str, k: int = 5) -> set:
    words = text.split()
    return {tuple(words[i:i + k]) for i in range(max(1, len(words) - k + 1))}


def near_dup_share(texts: list[str], threshold: float = 0.5) -> float:
    """Share of documents whose word 5-shingles have a Jaccard
    similarity of at least ``threshold`` with some earlier document."""
    sets = [_shingles(t) for t in texts]
    dups = 0
    for i, s in enumerate(sets):
        if any(len(s & sets[j]) / len(s | sets[j]) >= threshold for j in range(i)):
            dups += 1
    return dups / max(1, len(sets))


def table_stats(con, sf_dir: str) -> dict:
    def one(sql):
        return con.sql(sql).fetchone()

    out = {}
    for t in tables.TABLE_NAMES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out[f"rows.{t}"] = one(f"SELECT count(*) FROM {t}")[0]
    texts = [r[0] for r in con.sql("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    lengths = np.array([len(t.split()) for t in texts])
    out["documents.distinct_terms"] = len({w for t in texts for w in t.split()})
    out["documents.words_p50"] = float(np.median(lengths))
    out["documents.words_min_max"] = f"{lengths.min()}-{lengths.max()}"
    out["documents.near_dup_share"] = round(near_dup_share(texts), 3)
    out["documents.langs"] = one("SELECT count(DISTINCT lang) FROM documents")[0]
    out["documents.sources"] = one("SELECT count(DISTINCT source) FROM documents")[0]
    out["embeddings.dim"] = one("SELECT len(embedding) FROM embeddings LIMIT 1")[0]
    out["embeddings.labels"] = one("SELECT count(DISTINCT label) FROM embeddings")[0]
    vecs = np.array([r[0] for r in con.sql("SELECT embedding FROM embeddings").fetchall()], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    out["embeddings.norm_p50"] = round(float(np.median(norms)), 3)
    unit = vecs / norms[:, None]
    sims = unit @ unit.T
    out["embeddings.cos_p99"] = round(float(np.quantile(sims[np.triu_indices(len(sims), 1)], 0.99)), 3)
    out["events.users"] = one("SELECT count(DISTINCT user_id) FROM events")[0]
    out["events.types"] = one("SELECT count(DISTINCT event_type) FROM events")[0]
    out["events.days"] = one("SELECT count(DISTINCT CAST(ts AS DATE)) FROM events")[0]
    out["events.value_p50"] = round(one("SELECT median(value) FROM events")[0], 2)
    out["orders.customers"] = one("SELECT count(DISTINCT o_custkey) FROM orders")[0]
    out["lineitem.orders"] = one("SELECT count(DISTINCT l_orderkey) FROM lineitem")[0]
    out["lineitem.shipdate_range"] = "{}..{}".format(*[str(x)[:10] for x in one(
        "SELECT min(l_shipdate), max(l_shipdate) FROM lineitem")])
    return out


def query_sizes(con, specs) -> dict:
    out = {}
    for name in batch.QUERIES:
        out[f"query.{name}.rows"] = con.sql(f"SELECT count(*) FROM ({specs[name].oracle})").fetchone()[0]
    return out


def describe(sf_dir: str, specs) -> dict:
    con = duckdb.connect()
    out = table_stats(con, sf_dir)
    out.update(query_sizes(con, specs))
    con.close()
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--against", required=True, help="directory of fixture parquet tables")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    sys.path.insert(0, os.path.dirname(HERE))
    from kinesis_analytics_demo_spark.plans.registry import all_queries

    specs = all_queries()
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "_work")) as gen_dir:
        tables.write_tables(gen_dir, args.seed, batch.SF)
        ours = describe(gen_dir, specs)
    theirs = describe(args.against, specs)
    print(f"{'statistic':44s} {'generated':>22s} {'fixtures':>22s}")
    for key in ours:
        print(f"{key:44s} {str(ours[key]):>22s} {str(theirs.get(key)):>22s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
