"""Regression pins for the round-2 code-review findings (commit
6a83b6b): far-date timestamps, typed empty reads, tail-only schemas,
overflow guards."""

from __future__ import annotations

import datetime

import numpy as np
import pytest

pa = pytest.importorskip("pyarrow")

from orc_rust_spark.stripes import decode_stripe, encode_stripe
from orc_rust_spark.sources.orc_reader import arrow_schema, read_metadata, read_orc
from orc_rust_spark.sources.orc_writer import write_orc


FAR_DATES = [datetime.datetime(2500, 1, 1, 12, 34, 56, 789012),
             datetime.datetime(1833, 7, 4, 1, 2, 3, 400000),
             datetime.datetime(2024, 1, 1),
             datetime.datetime(1969, 12, 31, 23, 59, 58)]


def test_ts2_far_dates_roundtrip():
    """us*1000 previously wrapped int64 for dates beyond ~2262; the
    two-stream encoding must carry them exactly."""
    ts = pa.array(FAR_DATES, pa.timestamp("us"))
    batch = pa.record_batch([ts], names=["t"])
    out = decode_stripe(encode_stripe(batch))
    assert out.column("t").to_pylist() == ts.to_pylist()


def test_kernel_us_roundtrip_far_dates():
    from orc_rust_spark.kernels.timestamp_decimal import (
        timestamp_decode_parts,
        timestamp_encode_us,
    )
    us = pa.array(FAR_DATES, pa.timestamp("us")).cast(pa.int64()) \
        .to_numpy(zero_copy_only=False)
    d, s = timestamp_encode_us(us)
    secs, nanos = timestamp_decode_parts(d, s, len(us))
    assert np.array_equal(secs * 1_000_000 + nanos // 1000, us)


def test_orc_writer_far_dates_own_reader(tmp_path):
    tbl = pa.table({"t": pa.array(FAR_DATES[2:], pa.timestamp("us"))})
    path = str(tmp_path / "far.orc")
    write_orc(path, tbl)
    got = read_orc(path).column("t").cast(pa.timestamp("us"))
    assert got.combine_chunks() == tbl.column("t").combine_chunks()


def test_read_orc_typed_empty_on_full_prune(tmp_path):
    n = 10_000
    tbl = pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                    "s": pa.array([f"x{i}" for i in range(n)])})
    path = str(tmp_path / "p.orc")
    write_orc(path, tbl, stripe_rows=2000)
    empty = read_orc(path, predicate={"k": (10**9, 10**9 + 1)})
    assert empty.num_rows == 0
    assert empty.schema.field("k").type == pa.int64()
    assert empty.schema.field("s").type == pa.string()
    # typed empty concatenates cleanly with a non-empty read
    assert pa.concat_tables([empty, read_orc(path)]).num_rows == n


def test_arrow_schema_from_tail_only(tmp_path):
    tbl = pa.table({
        "d": pa.array([1, 2], pa.decimal128(10, 3)),
        "l": pa.array([[1], [2, 3]], pa.list_(pa.int32())),
        "st": pa.array([{"a": 1}, {"a": 2}], pa.struct([("a", pa.int64())])),
    })
    path = str(tmp_path / "schema.orc")
    write_orc(path, tbl)
    sch = arrow_schema(read_metadata(path))
    assert sch.field("d").type == pa.decimal128(10, 3)
    assert sch.field("l").type == pa.list_(pa.int32())
    assert sch.field("st").type == pa.struct([("a", pa.int64())])
    proj = arrow_schema(read_metadata(path), columns=["l"])
    assert proj.names == ["l"]


def test_block_size_parsed_from_postscript(tmp_path):
    tbl = pa.table({"k": pa.array(np.arange(100, dtype=np.int64))})
    path = str(tmp_path / "bs.orc")
    write_orc(path, tbl, compression=1, stripe_rows=50)
    meta = read_metadata(path)
    assert meta.block_size == 256 * 1024  # our writer's default, recorded
