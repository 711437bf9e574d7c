"""Round-5 ADVICE regression tests.

1. `bloom.hash_value` must decline (return None) on integer literals
   outside int64 range instead of raising OverflowError — reachable via
   Predicate.ne('col', 2**70) on a bloom-indexed int column.
2. `orc_tools metadata` must not read the whole file to list bloom
   columns; only the tail + stripe 0's covering byte range.
3. Timestamps nested in structs and lists decode at the requested unit
   (they used to decode at ns while the schema said otherwise), through
   read_orc and through native stripes.
"""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from orc_rust_spark.kernels.bloom import hash_value
from orc_rust_spark.sources.orc_reader import read_orc
from orc_rust_spark.sources.orc_tools import main as tools_main
from orc_rust_spark.sources.orc_writer import write_orc
from orc_rust_spark.sources.orc_format import TK_LONG, TK_INT
from orc_rust_spark.sources.predicate import Predicate


def test_hash_value_out_of_int64_declines():
    # outside int64 either side: decline to prune, never raise
    assert hash_value(2 ** 70, TK_LONG) is None
    assert hash_value(-(2 ** 70), TK_LONG) is None
    assert hash_value(2 ** 63, TK_INT) is None
    assert hash_value(-(2 ** 63) - 1, TK_LONG) is None
    # boundary values still hash
    assert hash_value(2 ** 63 - 1, TK_LONG) is not None
    assert hash_value(-(2 ** 63), TK_LONG) is not None


def _bloom_file(tmp_path, nullable=True):
    path = str(tmp_path / "b.orc")
    vals = [1, None, 3, None, 5] * 2000 if nullable \
        else list(range(10000))
    t = pa.table({"id": pa.array(vals, pa.int64())})
    write_orc(path, t, compression=0, row_index_stride=2500,
              bloom_columns=["id"])
    return path, t


def test_predicate_ne_out_of_range_literal_reads(tmp_path):
    """Predicate.ne('id', 2**70) on a nullable bloom-indexed int column:
    every in-range row satisfies ne, so the read must return all
    non-null-matching rows, not crash in the bloom hash."""
    path, t = _bloom_file(tmp_path, nullable=True)
    got = read_orc(path, predicate=Predicate.ne("id", 2 ** 70))
    # nulls never match a comparison; every non-null value != 2**70
    want = t.filter(pc.is_valid(t["id"])).num_rows
    assert got.filter(pc.is_valid(got["id"])).num_rows == want
    # eq with an impossible literal prunes everything via stats
    assert read_orc(
        path, predicate=Predicate.eq("id", 2 ** 70)).num_rows == 0


def test_metadata_reads_only_tail_and_stripe0(tmp_path, monkeypatch):
    """cmd_metadata on a bloom-indexed multi-stripe file must read far
    less than the file: tail probe + stripe 0's covering range."""
    path = str(tmp_path / "big.orc")
    rng = np.random.default_rng(7)
    t = pa.table({
        "id": pa.array(rng.integers(0, 1 << 40, 200_000),
                       pa.int64()),
        "s": pa.array([f"row{i}" for i in range(200_000)]),
    })
    write_orc(path, t, compression=0, stripe_rows=50_000,
              row_index_stride=10_000, bloom_columns=["id"])
    import os
    fsize = os.path.getsize(path)

    read_counter = {"bytes": 0}
    real_open = open

    def counting_open(file, *a, **kw):
        f = real_open(file, *a, **kw)
        if file == path and "b" in (a[0] if a else kw.get("mode", "r")):
            real_read = f.read

            def read(n=-1):
                buf = real_read(n)
                read_counter["bytes"] += len(buf)
                return buf
            f.read = read
        return f

    import orc_rust_spark.sources.orc_tools as tools_mod
    import orc_rust_spark.sources.orc_reader as reader_mod
    monkeypatch.setattr("builtins.open", counting_open)
    out = io.StringIO()
    assert tools_mod.main(["metadata", path], out=out) == 0
    text = out.getvalue()
    assert "bloom filter columns:" in text
    assert "number of stripes: 4" in text
    # tail + one stripe of four (plus slack): far below the whole file
    assert read_counter["bytes"] < 0.55 * fsize, \
        (read_counter["bytes"], fsize)


def _nested_ts_table():
    import datetime as dt
    ts = [dt.datetime(2015, 7, 4, 8, 0, 0, 123456),
          dt.datetime(1999, 1, 2, 3, 4, 5), None]
    return pa.table({
        "st": pa.array([{"t": t, "k": i} for i, t in enumerate(ts)],
                       pa.struct([("t", pa.timestamp("us")),
                                  ("k", pa.int64())])),
        "lt": pa.array([[t, t] if t else [] for t in ts],
                       pa.list_(pa.timestamp("us"))),
    })


def test_nested_timestamps_read_at_requested_unit(tmp_path):
    from orc_rust_spark.sources.orc_reader import arrow_schema, read_metadata
    path = str(tmp_path / "nested_ts.orc")
    tbl = _nested_ts_table()
    write_orc(path, tbl)
    got = read_orc(path, timestamp_precision="us")
    assert got.schema == tbl.schema
    assert got.schema == arrow_schema(read_metadata(path),
                                      timestamp_precision="us")
    assert got.to_pylist() == tbl.to_pylist()


def test_nested_timestamps_native_stripe_roundtrip():
    from orc_rust_spark.stripes import decode_stripe, encode_stripe
    batch = _nested_ts_table().to_batches()[0]
    out = decode_stripe(encode_stripe(batch))
    assert out.schema == batch.schema
    assert out.equals(batch)
