import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("orc_rust_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def indexed_stripe():
    """Encodes a batch as a native stripe with a ROW_INDEX every
    `stride` rows (what the decode_rowgroup_pruned oracle row writes)."""
    import io

    from orc_rust_spark.stripes import _NativeWriter

    def encode(batch, stride: int) -> bytes:
        sink = io.BytesIO()
        w = _NativeWriter(sink, batch.schema, row_index_stride=stride)
        w.write_batch(batch)
        w.close()
        return sink.getvalue()
    return encode
