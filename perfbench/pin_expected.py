"""Regenerate ``expected.json``: the values the benchmark's output
checks compare against, computed once from the DuckDB oracle SQL in
``registry.oracle_sql()`` over the parquet copies under ``data/``.

Run from the repository root:  python3 perfbench/pin_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from checks import EXPECTED_PATH, summarize  # noqa: E402
from global_superstore_data_warehouse_spark import registry  # noqa: E402
from global_superstore_data_warehouse_spark.plans import pipeline  # noqa: E402
from workloads import DATA_DIR, QUERY_WORKLOADS, SCALES  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# pipeline artifact -> registry query whose oracle gives its row count
ARTIFACT_ORACLES = {
    "3nf/dim_market": "dim_market",
    "3nf/dim_geography": "dim_geography",
    "3nf/dim_products": "dim_product_hierarchy",
    "3nf/dim_date": "dim_date",
    "3nf/fct_orders": "fact_orders",
    "dm/yearly_sales_profit": "yearly_sales_profit",
    "dm/sales_employees_regions": "sales_employees_regions",
}

# audit rows one full build plus one incremental run append: a
# stage step per staged table, one per written 3NF/DM artifact, and
# a stage + fact step for each of the two incremental loads
AUDIT_ROWS = len(pipeline.STAGED_TABLES) + len(ARTIFACT_ORACLES) + 2 * 2


def pin(scale: str) -> dict:
    sf = os.path.join(DATA_DIR, scale)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracles = registry.oracle_sql()
    queries = {
        q: summarize(con.sql(oracles[q]).df())
        for names in QUERY_WORKLOADS.values()
        for q in names
    }
    counts = {
        f"staging.{t}": con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        for t in pipeline.STAGED_TABLES
    }
    for artifact, q in ARTIFACT_ORACLES.items():
        counts[artifact] = len(con.sql(oracles[q]).df())
    con.close()
    return {"queries": queries, "pipeline": counts, "audit_rows": AUDIT_ROWS}


def main() -> None:
    out = {scale: pin(scale) for scale in SCALES.values()}
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED_PATH}")


if __name__ == "__main__":
    main()
