"""Arrow-native parquet source: Spark schedules, pyarrow reads.

Spark's JVM parquet reader materializes nested `array<int>` columns
row-wise and re-serializes them to Arrow for every Python stage — for
token tables this costs more than the codec work itself (measured ~50x
slower than a direct pyarrow read of the same files).  This source keeps
the data path Arrow end-to-end: the driver lists (file, row-group)
fragments, Spark distributes them as plain task descriptions, and each
task reads its row groups with pyarrow directly — column projection and
row-group pruning happen in the worker, mirroring how the reference
fetches only projected streams per stripe (`src/stripe.rs:154-165`).

This is the intended scan operator for the encode pipeline at scale:
fragments map 1:1 to tasks, so parallelism follows row-group count, not
`spark.sql.files.maxPartitionBytes`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.types as T


# task rows per executor slot: enough partitions that a slow task
# does not hold back a whole slot's share of the scan
_TASKS_PER_SLOT = 4


def list_fragments(path: str | list[str]) -> list[tuple[str, list[int]]]:
    """(file, [row-group id]) task descriptions for parquet dir/file(s),
    one row group per task."""
    dataset = pads.dataset(path, format="parquet")
    return [(frag.path, [rg.id]) for frag in dataset.get_fragments()
            for rg in frag.row_groups]


def _task_plan(spark: SparkSession, tasks: list[tuple[str, list[int]]]):
    """Task-description DataFrame with an EXACT layout: range-partition
    on the task index so every partition holds the same number of task
    rows.  Plain ``repartition(n)`` round-robins from arbitrary input
    splits, which on an n-row plan leaves ~1/e of the partitions empty
    and piles 2-3 tasks on others — measured 3x wall-time loss on the
    fused scan+encode stage (the straggler partitions serialize)."""
    parallelism = min(len(tasks),
                      spark.sparkContext.defaultParallelism * _TASKS_PER_SLOT)
    return spark.createDataFrame(
        [(i, f, rgs) for i, (f, rgs) in enumerate(tasks)],
        T.StructType([T.StructField("tid", T.IntegerType()),
                      T.StructField("file", T.StringType()),
                      T.StructField("row_groups", T.ArrayType(T.IntegerType()))]),
    ).repartitionByRange(parallelism, "tid")


def scan_encode_parquet(spark: SparkSession, path: str,
                        stripe_tokens: int = 1 << 21,
                        plans=None, block_compression: int = 0) -> DataFrame:
    """Fused scan+encode: each task reads its parquet row groups with
    pyarrow and encodes stripes in the same Python process — one Python
    stage, zero JVM row-format round-trips for the token arrays."""
    from pyspark import TaskContext
    from ..operators.encode import STRIPE_SCHEMA, encode_batches

    tasks = list_fragments(path)
    if not tasks:
        raise ValueError(f"no parquet fragments under {path}")
    plan = _task_plan(spark, tasks)

    def scan_encode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0

        def read_all() -> Iterator[pa.RecordBatch]:
            for b in batches:
                files = b.column("file").to_pylist()
                groups = b.column("row_groups").to_pylist()
                for f, rgs in zip(files, groups):
                    tbl = pq.ParquetFile(f).read_row_groups(rgs)
                    yield from tbl.to_batches()

        yield from encode_batches(read_all(), part_id, stripe_tokens, plans,
                                  block_compression)

    return plan.mapInArrow(scan_encode, STRIPE_SCHEMA)
