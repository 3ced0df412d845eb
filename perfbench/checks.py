"""Output checks against values pinned in ``expected.json``.

Query results are compared by row count, column names and an
order-insensitive value hash, computed the same way for the Spark
result and for the DuckDB oracle SQL when the pins were made
(``pin_expected.py``). The pipeline's returned row counts are compared
with counts pinned from the same oracles.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def value_hash(pdf: Any) -> str:
    """sha256 over the sorted JSON rows of a pandas frame whose columns
    are put in name order; NaN reads as null."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    recs = sorted(
        json.dumps([None if v != v else v for v in row], default=str)
        for row in pdf.itertuples(index=False)
    )
    return hashlib.sha256("\n".join(recs).encode()).hexdigest()


def summarize(pdf: Any) -> dict[str, Any]:
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": value_hash(pdf)}


def load_expected(scale: str) -> dict[str, Any]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)[scale]


def compare(name: str, got: Any, want: Any) -> dict[str, Any]:
    """One check record: ``ok`` plus both sides when they differ."""
    ok = got == want
    rec: dict[str, Any] = {"check": name, "ok": ok}
    if not ok:
        rec.update(got=got, want=want)
    return rec
