"""The Python lanes: the one per-row runner, and parallelism pinning
for per-group / per-row-compute-bound stages.

**Per-row lanes.** :func:`row_lane` is the one ``mapInPandas`` loop
behind every per-row payload decode: the operator supplies only a
function from one input row to its output tuples, written in the
order of the output schema, so the schema is the one place the
output columns are named. The runner yields one unlabelled pandas
frame per Arrow batch (Spark assigns integer-labelled columns by
position), so a lane holds at most one batch of output in memory.

**Parallelism.** Two situations defeat Spark's byte-based
parallelism heuristics, and both showed up as real 9-10x
serializations in this repo:

1. **Grouped Python transforms** (``groupBy(...).applyInPandas``,
   ``cogroup(...).applyInPandas``): the cost driver is per-GROUP
   Python/Arrow invocation overhead, not bytes. When the grouped
   input is small (a filtered audit slice, a reduced rollup), AQE
   coalesces its shuffle to one partition and every per-key Python
   call serializes in a single task (operators/cogroup.py measured
   18.5 s -> 2.0 s at any SF once pinned).

2. **Compute-heavy narrow stages over byte-light input** (shingling,
   minhashing, simhash votes over a text column): parquet splits are
   sized by bytes, so a corpus that is compute-expensive per row but
   packs into few splits serializes the scan-side work.

In both cases the fix is the same: repartition to core count on the
stage's natural key BEFORE the expensive stage, so task parallelism
follows the key/row count rather than the byte count. The explicit
``repartition(n, key)`` is a REPARTITION_BY_NUM exchange, which AQE
is forbidden to coalesce — the pin survives adaptive replanning.

At 1000-executor scale the same rule holds: ``defaultParallelism``
reflects the cluster's cores, and the hash exchange this helper
emits is exactly the shuffle the downstream groupBy needs anyway
(Spark reuses the partitioning, so grouped sites pay no extra
exchange for the pin).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def row_lane(
    df: DataFrame,
    rows_of: Callable[..., Iterable[tuple]],
    schema: StructType | str,
) -> DataFrame:
    """Run ``rows_of`` over every row of ``df`` in an Arrow-batched
    ``mapInPandas`` lane.

    ``rows_of(*row)`` receives the values of ``df``'s columns, in
    order, and returns (or yields) that row's output tuples in
    ``schema`` order; an empty return drops the row. A batch whose
    tuples are all too short, or any tuple too long, fails the task
    with Spark's ``RESULT_COLUMN_SCHEMA_MISMATCH``; pandas pads a
    short tuple with nulls when others in its batch are full width,
    so the width is ``rows_of``'s contract.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [
                    out
                    for row in pdf.itertuples(index=False, name=None)
                    for out in rows_of(*row)
                ]
            )

    return df.mapInPandas(batches, schema)


def repartition_for_grouped_python(df: DataFrame, *key_cols: str) -> DataFrame:
    """Pin ``df``'s parallelism to core count ahead of a grouped
    Python-lane transform (or any per-row-compute-bound stage).

    ``key_cols`` must be the downstream grouping key(s) so the
    exchange doubles as the groupBy's required hash partitioning;
    pass a stable id column for ungrouped compute stages.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def widen_if_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition to core count ONLY if the frame currently has
    fewer partitions — for per-row compute-bound JVM stages (e.g.
    the 56-plane LSH signature: thousands of FMAs per row) whose
    input may arrive as one small parquet file and would otherwise
    run single-task. Unlike :func:`repartition_for_grouped_python`
    this is a no-op at cluster scale, where the scan already yields
    ≥ cores partitions and an unconditional exchange would be pure
    overhead. The partition probe is plan conversion only — no job.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)
