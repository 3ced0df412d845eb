"""Oracle-parity tests for the analytical views (SURVEY §2.5/§2.4:
A3/A5 grouped sums over J1/J8 star joins)."""

import pytest

from tests.conftest import assert_matches_oracle

VIEW_QUERIES = [
    "yearly_sales_profit",
    "sales_employees_regions",
    "pricing_summary",
    "demand_category_region",
    "segment_sales",
    "seasonality_segment",
    "priority_distribution",
]


@pytest.mark.parametrize("name", VIEW_QUERIES)
def test_view_matches_oracle(spark, duck, name, sf_dir):
    assert_matches_oracle(spark, duck, name, sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"order_year", "market", "total_sales"} <= set(df.columns)

