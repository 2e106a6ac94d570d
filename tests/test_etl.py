"""Reference-parity ETL transforms vs DuckDB oracle (SURVEY.md §2.1)."""

import pytest

from tests.conftest import assert_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "etl_agg_public_holiday",
        "etl_agg_shipments",
        "etl_best_performing_product",
    ],
)
def test_etl_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, name)


def test_agg_public_holiday_shape(spark):
    from postgres_s3_etl_spark.operators.etl import agg_public_holiday, load_inputs

    df = agg_public_holiday(
        **load_inputs(spark, "/root/testdata/sf0.001", agg_public_holiday)
    )
    rows = df.collect()
    assert len(rows) == 1
    assert len(df.columns) == 13  # ingestion_date + 12 months
    # Counts are non-negative and bounded by total orders.
    vals = [rows[0][c] for c in df.columns[1:]]
    assert all(v >= 0 for v in vals)


def test_best_performing_product_single_row(spark):
    from postgres_s3_etl_spark.operators.etl import (
        best_performing_product,
        load_inputs,
    )

    frames = load_inputs(spark, "/root/testdata/sf0.001", best_performing_product)
    row = best_performing_product(**frames).collect()
    assert len(row) == 1
    r = row[0]
    star_total = (
        r.pct_one_star_review
        + r.pct_two_star_review
        + r.pct_three_star_review
        + r.pct_four_star_review
        + r.pct_five_star_review
    )
    assert abs(star_total - 100.0) < 0.01
    assert abs(r.pct_early_shipment + r.pct_late_shipment - 100.0) < 0.01
