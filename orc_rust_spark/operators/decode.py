"""Spark decode pass: stripe blobs -> original rows.

Analog of the reference read path (`src/arrow_reader.rs:233-347`):
stripes map to Spark partitions, each task decodes whole stripes to
Arrow batches.  Column projection reaches into the stripe so
unprojected streams are never decoded (`src/stripe.rs:159`,
`src/projection.rs:24-78`); row-group-style pruning happens *before*
this operator as a DataFrame filter on the manifest's
doc_id_min/doc_id_max columns (`src/row_group_filter.rs` analog, done
by Catalyst + parquet column pruning instead of custom code).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
import pyspark.sql.types as T

from ..stripes import decode_stripe


def decode_pass(stripes: DataFrame, out_schema: T.StructType,
                columns: list[str] | None = None) -> DataFrame:
    """stripes must contain a `blob` column; other columns are ignored
    (select the blob only so parquet reads prune the rest)."""
    blob_df = stripes.select("blob")

    def decode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column("blob")
            for i in range(batch.num_rows):
                # zero-copy view into the Arrow data buffer: .as_py()
                # duplicated every compressed stripe (~1 MB each, the
                # whole scan's input bytes) before decode even started
                blob = col[i].as_buffer()
                yield decode_stripe(blob, columns=columns)

    return blob_df.mapInArrow(decode_partition, out_schema)
