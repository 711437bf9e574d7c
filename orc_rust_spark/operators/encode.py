"""Spark encode pass: token DataFrame -> stripe blobs + lineage manifest.

The analog of the reference's write path (`src/arrow_writer.rs:90-155`,
`src/writer/stripe.rs:82-171`): rows are buffered per task and flushed
as a stripe when the buffered token count reaches the stripe budget
(the reference flushes at a 64 MiB memory estimate,
`src/arrow_writer.rs:50-54,118-121`; we budget by token count since
int32 tokens dominate the payload).  Everything runs inside
``mapInArrow`` — whole Arrow batches, no per-row Python — and each
task emits (manifest row + blob) rows, so the write needs no further
shuffle.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
import pyspark.sql.types as T

from ..stripes import ColumnPlan, encode_stripe

STRIPE_SCHEMA = T.StructType([
    T.StructField("stripe_id", T.StringType(), False),
    T.StructField("part_id", T.IntegerType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_tokens", T.LongType(), False),
    T.StructField("input_bytes", T.LongType(), False),
    T.StructField("output_bytes", T.LongType(), False),
    T.StructField("codecs", T.StringType(), False),
    T.StructField("checksum", T.StringType(), False),
    T.StructField("doc_id_min", T.StringType(), False),
    T.StructField("doc_id_max", T.StringType(), False),
    T.StructField("blob", T.BinaryType(), False),
])

MANIFEST_COLUMNS = [f.name for f in STRIPE_SCHEMA.fields if f.name != "blob"]

_STRIPE_PA_SCHEMA = to_arrow_schema(STRIPE_SCHEMA)


def _stripe_row(tbl: pa.Table, part_id: int, seq: int,
                plans: dict[str, ColumnPlan] | None,
                block_compression: int = 0) -> dict:
    batch = tbl.combine_chunks().to_batches()[0] if tbl.num_rows else None
    codecs: dict[str, str] = {}
    blob = encode_stripe(batch, plans, _compression=block_compression,
                         _codecs=codecs)
    n_tokens = int(pa.compute.sum(
        pa.compute.list_value_length(tbl.column("tokens"))).as_py() or 0)
    doc_ids = tbl.column("doc_id")
    return {
        "stripe_id": f"s{part_id:06d}-{seq:05d}",
        "part_id": part_id,
        "seq": seq,
        "n_rows": tbl.num_rows,
        "n_tokens": n_tokens,
        "input_bytes": tbl.nbytes,
        "output_bytes": len(blob),
        "codecs": json.dumps(codecs, sort_keys=True),
        "checksum": hashlib.sha256(blob).hexdigest(),
        "doc_id_min": str(pa.compute.min(doc_ids).as_py()),
        "doc_id_max": str(pa.compute.max(doc_ids).as_py()),
        "blob": blob,
    }


def encode_batches(batches: Iterator[pa.RecordBatch], part_id: int,
                   stripe_tokens: int = 1 << 21,
                   plans: dict[str, ColumnPlan] | None = None,
                   block_compression: int = 0) -> Iterator[pa.RecordBatch]:
    """Pure-Arrow encode generator: buffers batches to the stripe token
    budget, emits one (manifest + blob) row per stripe.  Shared by the
    DataFrame operator below and the fused parquet scan+encode pipeline
    (sources/parquet_arrow.py) — fusing matters because chaining two
    Python stages forces an Arrow->UnsafeRow->Arrow round-trip of the
    token arrays through the JVM, which costs more than encoding does."""
    seq = 0
    pending: list[pa.RecordBatch] = []
    pending_tokens = 0

    def flush(rows_tbl: pa.Table) -> pa.RecordBatch:
        nonlocal seq
        row = _stripe_row(rows_tbl, part_id, seq, plans, block_compression)
        seq += 1
        return pa.RecordBatch.from_pylist([row], schema=_STRIPE_PA_SCHEMA)

    for batch in batches:
        if batch.num_rows == 0:
            continue
        n_tok = batch.column("n_tok").to_numpy(zero_copy_only=False).astype(np.int64)
        csum = pending_tokens + np.cumsum(n_tok)
        # emit full stripes whenever the running budget is crossed
        start = 0
        while True:
            split = int(np.searchsorted(csum[start:], stripe_tokens, side="left"))
            split_idx = start + split
            if split_idx >= batch.num_rows:
                break
            # rows [start, split_idx] complete a stripe
            chunk = batch.slice(start, split_idx - start + 1)
            tbl = pa.Table.from_batches(pending + [chunk]) if pending else \
                pa.Table.from_batches([chunk])
            yield flush(tbl)
            pending = []
            pending_tokens = 0
            csum = csum - csum[split_idx]
            start = split_idx + 1
        if start < batch.num_rows:
            tail = batch.slice(start)
            pending.append(tail)
            pending_tokens = int(csum[-1])
    if pending:
        yield flush(pa.Table.from_batches(pending))


def encode_pass(df: DataFrame, stripe_tokens: int = 1 << 21,
                plans: dict[str, ColumnPlan] | None = None,
                block_compression: int = 0) -> DataFrame:
    """Encode a token DataFrame into stripe rows.  Input partitioning is
    respected: one task encodes its partition into >=1 stripes."""

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        yield from encode_batches(batches, part_id, stripe_tokens, plans,
                                  block_compression)

    return df.mapInArrow(encode_partition, STRIPE_SCHEMA)
