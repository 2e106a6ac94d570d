"""Python-lane contracts (operators/python_lane.py).

Parallelism pinning: grouped Python-lane transforms and compute-bound
narrow stages must pin task parallelism to core count via the shared
helper, and the pin must be a REPARTITION_BY_NUM exchange AQE cannot
coalesce. Per-row lanes: ``row_lane`` drops, expands and positions
output rows as its docstring says."""

from __future__ import annotations

import re
from pathlib import Path

from tests.conftest import SF_DIR

OPS_DIR = Path(__file__).resolve().parent.parent / "postgres_s3_etl_spark"


def test_cogroup_pin_survives_aqe(spark):
    """After execution (AQE final plan), the cogroup's two input
    exchanges must still hash-partition on the keys at core count —
    no single-partition coalesced read feeding the Python node."""
    from postgres_s3_etl_spark.operators.cogroup import (
        q_order_billing_cogroup,
    )

    df = q_order_billing_cogroup(spark, SF_DIR)
    df.collect()  # materialize so the plan below is the AQE-final one
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    n = spark.sparkContext.defaultParallelism
    # Both sides carry the explicit numbered hash repartition.
    assert len(re.findall(rf"hashpartitioning\([ol]_orderkey#\d+L?, {n}\)", plan)) >= 2, plan
    assert "REPARTITION_BY_NUM" in plan
    # AQE must not have collapsed either INPUT side to one partition.
    # (The final ORDER BY above the Python node may coalesce — that's
    # the bounded result, not the per-group work.) In the plan-tree
    # string the Python node's input subtree prints after its line.
    subtree = plan.split("FlatMapCoGroupsInPandas", 1)[1]
    assert "AQEShuffleRead coalesced" not in subtree, plan


def test_helper_used_at_every_site():
    """No operator may inline the defaultParallelism-repartition
    idiom — new Python-lane or compute-pinning sites must go through
    repartition_for_grouped_python so the contract stays auditable
    in one place."""
    offenders = []
    for py in OPS_DIR.rglob("*.py"):
        if py.name == "python_lane.py":
            continue
        src = py.read_text()
        # the raw idiom: .repartition(<defaultParallelism>, ...)
        if re.search(
            r"\.repartition\(\s*(spark\.sparkContext\.)?defaultParallelism",
            src,
        ) or re.search(r"\.repartition\(dp,", src):
            offenders.append(str(py))
    assert not offenders, offenders


def test_helper_emits_numbered_hash_exchange(spark):
    from postgres_s3_etl_spark.operators.python_lane import (
        repartition_for_grouped_python,
    )

    df = repartition_for_grouped_python(spark.range(100), "id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(id#" in plan and f", {n})" in plan, plan


def test_widen_if_narrow_is_noop_when_wide(spark):
    """At >= cores input partitions (the cluster case) the helper
    must return the SAME plan — no exchange inserted."""
    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(1000, numPartitions=n)
    out = widen_if_narrow(wide, "id")
    assert out is wide  # literally unchanged, not just equivalent
    narrow = spark.range(1000, numPartitions=1)
    out2 = widen_if_narrow(narrow, "id")
    assert out2 is not narrow
    assert out2.rdd.getNumPartitions() == n


def test_pq_subs_widened_on_one_file_scan(spark):
    """The PQ family's shared encode entry (_pq_subs) must run at
    core-count parallelism even when the embeddings scan is a single
    local file (round-12 fix: the last compute-heavy embedding family
    left on the unwidened scan)."""
    from postgres_s3_etl_spark.operators.similarity import _pq_subs, _vecs

    n = spark.sparkContext.defaultParallelism
    vecs = _vecs(spark, SF_DIR).select("vec_id", "v")
    assert vecs.rdd.getNumPartitions() < n  # the local one-file artifact
    subs = _pq_subs(vecs)
    assert subs.rdd.getNumPartitions() == n
    plan = subs._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan

    # And with an already-parallel input the widen is absent.
    wide_vecs = vecs.repartition(n, "vec_id")
    plan2 = _pq_subs(wide_vecs)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("REPARTITION_BY_NUM") == 1, plan2  # only our own


def test_row_lane_drops_and_expands_rows(spark):
    """Each input row yields 0, 1 or 2 output rows (id % 3 of them)
    across a 3-partition frame: dropped rows vanish, expanded rows
    all arrive."""
    from postgres_s3_etl_spark.operators.python_lane import row_lane

    df = spark.range(0, 12, numPartitions=3)

    def rows_of(i):
        return [(i, k) for k in range(i % 3)]

    got = row_lane(df, rows_of, "id bigint, k int").collect()
    assert sorted(tuple(r) for r in got) == [
        (i, k) for i in range(12) for k in range(i % 3)
    ]


def test_row_lane_all_dropped_and_empty_input_give_no_rows(spark):
    from postgres_s3_etl_spark.operators.python_lane import row_lane

    df = spark.range(0, 12, numPartitions=3)
    assert row_lane(df, lambda i: (), "id bigint").collect() == []
    # the first partition (ids 0-3) drops every row, the others keep theirs
    kept = row_lane(df, lambda i: [(i,)] if i >= 4 else [], "id bigint")
    assert sorted(r.id for r in kept.collect()) == list(range(4, 12))
    empty = spark.range(0, 0, numPartitions=3)
    assert row_lane(empty, lambda i: [(i,)], "id bigint").collect() == []


def test_row_lane_short_tuple_raises(spark):
    import pytest

    from postgres_s3_etl_spark.operators.python_lane import row_lane

    df = spark.range(0, 4, numPartitions=2)
    with pytest.raises(Exception, match="RESULT_COLUMN_SCHEMA_MISMATCH"):
        row_lane(df, lambda i: [(i,)], "id bigint, k int").collect()


def test_row_lane_assigns_fields_by_position(spark):
    """``rows_of`` gets the input columns in order (binary as bytes)
    and its string / array<int> / bigint fields land in the schema's
    columns by position."""
    from postgres_s3_etl_spark.operators.python_lane import row_lane

    df = spark.createDataFrame(
        [(i, bytearray(b"x" * i)) for i in range(5)], "id bigint, payload binary"
    ).repartition(2)

    def rows_of(i, payload):
        yield (f"s{i}", [i, len(bytes(payload))], 2**40 + i)

    got = row_lane(df, rows_of, "s string, a array<int>, b bigint").collect()
    assert sorted(tuple(r) for r in got) == [
        (f"s{i}", [i, i], 2**40 + i) for i in range(5)
    ]
