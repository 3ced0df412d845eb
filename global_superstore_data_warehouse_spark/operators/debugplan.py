"""Opt-in round-body plan capture for the ITERATIVE operators.

The r13 verdict's evidence gap: a final ``explain`` of an iterative
query shows only the post-checkpoint projection (8-13 lines), so the
per-round join strategy — the thing the broadcast gates actually
change — was invisible in the committed plan dumps. This hook lets
the iterative loops (PageRank rounds, k-core peels, BFS hops, the
connected-components levels) dump the ROUND BODY's formatted plan when
``SPARK_GRAFT_PLAN_DIR`` is set.

Zero cost on every normal path: without the env var ``dump_plan`` is
a no-op (one dict lookup); the bench, the driver, and production
never set it. ``tools/profile_query.py --plans DIR`` sets it to DIR
for the one plan build it explains.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_PLAN_DIR"


def dump_plan(df: DataFrame, name: str) -> None:
    """Write ``df``'s formatted physical plan to
    ``$SPARK_GRAFT_PLAN_DIR/<name>.txt`` — no-op unless the env var
    is set. Never raises: evidence capture must not fail a query."""
    out_dir = os.environ.get(_ENV)
    if not out_dir:
        return
    try:
        spark = df.sparkSession
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
    except Exception:
        pass
