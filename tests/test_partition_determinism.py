"""Cross-run determinism of the TRAINER family under partitioning
changes (round-10 VERDICT task 6).

The BPE / IRLS / corr paths pin their operation order (DECIMAL
accumulators, deterministic tiebreaks), but until now no test varied
the physical layout to prove the pinned folds are PARTITION-INVARIANT
end-to-end: a hidden dependence on partition count (e.g. a
non-commutative double fold that only looks stable under one layout)
would pass every fixed-layout test and still drift on a real cluster,
where AQE re-plans partition counts run to run.

Each query runs twice on the same session under two layouts —
(shuffle.partitions=8, default file splits) vs (shuffle.partitions=3,
tiny maxPartitionBytes so every parquet file splits) — with the
trainer memo caches cleared between runs, and the collected rows must
be BIT-EQUAL (exact float equality, not floor-6: determinism is a
stronger claim than oracle parity)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

TRAINERS = [
    "text_bpe_train",
    "text_quality_train",
    "q_lineitem_corr",
    # round-12 (VERDICT r11 task 7): the r11 additions with
    # layout-sensitive-looking plans. text_curriculum_phases rides a
    # two-pass range-partitioned global rank; text_pack_sequences is
    # next-fit over LOGICAL lanes (doc_id % PACK_SHARDS) with a
    # within-lane doc_id sort inside the Python stage — both are
    # partition-invariant by construction, and this pins it.
    "text_curriculum_phases",
    "text_pack_sequences",
]


def _clear_memos():
    from postgres_s3_etl_spark.session import SESSION_MEMO

    SESSION_MEMO.restore({})


def _run(spark, name: str, shuffle: str, max_bytes: str):
    import __spark_entry__ as e

    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
    try:
        _clear_memos()
        rows = e.queries()[name](spark, SF_DIR).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_bytes)
        _clear_memos()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("name", TRAINERS)
def test_partition_invariant_bit_equal(spark, name):
    a = _run(spark, name, "8", "134217728")
    b = _run(spark, name, "3", "65536")
    assert a == b, f"{name}: output depends on partition layout"
