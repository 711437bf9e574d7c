"""Round-3 ADVICE regression tests: writerTimezone conversion on
real-ORC read/write, typed row-group predicate bounds (on native
stripes written with a ROW_INDEX), and nested
timestamp normalization through the Spark ORC source."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pytest

po = pytest.importorskip("pyarrow.orc")

from orc_rust_spark.sources.orc_reader import read_orc
from orc_rust_spark.sources.orc_writer import OrcWriter, write_orc

LA = "America/Los_Angeles"


def _ts(*args):
    return dt.datetime(*args)


# spans PST (UTC-8) and PDT (UTC-7) on both sides of the 2015 ORC epoch
TZ_SAMPLES = [
    _ts(2015, 1, 15, 12, 0, 0),          # PST, just after epoch
    _ts(2015, 7, 15, 0, 30, 0, 123456),  # PDT
    _ts(1999, 11, 5, 1, 2, 3),           # PST, pre-epoch
    _ts(2021, 3, 20, 23, 59, 59),        # PDT, post-epoch
    None,
    _ts(2014, 12, 31, 23, 0, 0),         # PST, just before epoch
]


def test_writer_timezone_roundtrip_and_pyarrow(tmp_path):
    """A file written with writerTimezone=LA decodes to the original UTC
    instants via BOTH our reader and pyarrow's C++ ORC reader (which
    resolves the zone through the system tz database) — the conversion
    of `src/array_decoder/timestamp.rs:126-143,236-291`."""
    path = str(tmp_path / "tz.orc")
    tbl = pa.table({"ts": pa.array(TZ_SAMPLES, pa.timestamp("us")),
                    "k": pa.array(range(len(TZ_SAMPLES)), pa.int64())})
    w = OrcWriter(path, tbl.schema, writer_timezone=LA)
    w.write_batch(tbl.to_batches()[0])
    w.close()
    assert LA.encode() in open(path, "rb").read()

    ours = read_orc(path)
    assert ours.column("ts").cast(pa.timestamp("us")).to_pylist() == TZ_SAMPLES

    ext = po.ORCFile(path).read()
    got = ext.column("ts").cast(pa.timestamp("us")).to_pylist()
    # pyarrow may attach a tz; compare as naive UTC instants
    got = [g.replace(tzinfo=None) if g is not None and g.tzinfo
           else g for g in got]
    assert got == TZ_SAMPLES


def test_writer_timezone_nested_list(tmp_path):
    """writer_tz threads through nested encode/decode recursion."""
    path = str(tmp_path / "tz_nested.orc")
    vals = [[_ts(2015, 7, 4, 8, 0, 0), _ts(2015, 1, 4, 8, 0, 0)], None, []]
    tbl = pa.table({"tss": pa.array(vals, pa.list_(pa.timestamp("us")))})
    w = OrcWriter(path, tbl.schema, writer_timezone=LA)
    w.write_batch(tbl.to_batches()[0])
    w.close()
    ours = read_orc(path)
    assert ours.column("tss").cast(pa.list_(pa.timestamp("us"))).to_pylist() == vals


def test_writer_timezone_utc_unchanged(tmp_path):
    """Default UTC path emits byte-identical output to before (no
    conversion applied)."""
    path = str(tmp_path / "tz_utc.orc")
    tbl = pa.table({"ts": pa.array(TZ_SAMPLES, pa.timestamp("us"))})
    write_orc(path, tbl)
    assert read_orc(path).column("ts").cast(
        pa.timestamp("us")).to_pylist() == TZ_SAMPLES


def test_writer_timezone_bad_name_fails_at_open(tmp_path):
    with pytest.raises(Exception):
        OrcWriter(str(tmp_path / "x.orc"),
                  pa.schema([("a", pa.int64())]),
                  writer_timezone="Not/AZone")


def _rg_batch(n=6000):
    rng = np.random.default_rng(7)
    return pa.record_batch({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "f": pa.array(np.linspace(0.0, 600.0, n)),
        "s": pa.array([f"id{i:06d}" for i in range(n)]),
    })


def test_rowgroup_predicate_int_bound_on_float_column(indexed_stripe):
    """The ADVICE failure mode: int bounds against a float stat column
    must compare numerically, never prune a matching group."""
    b = _rg_batch()
    blob = indexed_stripe(b, 1000)
    stats: dict = {}
    out = read_orc(blob, predicate={"f": (1, 10)}, _stats=stats)
    # pruning is conservative: every row with 1 <= f <= 10 must survive
    f = np.asarray(out.column("f"))
    expect = np.asarray(b.column("f"))
    want = expect[(expect >= 1) & (expect <= 10)]
    got = f[(f >= 1) & (f <= 10)]
    assert np.array_equal(np.sort(got), np.sort(want)) and len(want) > 0
    assert stats["groups_decoded"] < stats["groups_total"]


def test_rowgroup_predicate_float_bound_on_int_column(indexed_stripe):
    b = _rg_batch()
    blob = indexed_stripe(b, 1000)
    stats: dict = {}
    out = read_orc(blob, predicate={"k": (1500.5, 1700.2)}, _stats=stats)
    k = np.asarray(out.column("k"))
    assert set(range(1501, 1701)) <= set(k.tolist())
    assert stats["groups_decoded"] < stats["groups_total"]


def test_rowgroup_predicate_mismatched_bound_raises(indexed_stripe):
    """A string bound on a numeric column (or the reverse) could never
    prune: it raises, at read and at stripe planning alike."""
    from orc_rust_spark.sources.orc_reader import (read_metadata,
                                                   stripes_matching)
    from orc_rust_spark.sources.predicate import Predicate as P
    b = _rg_batch()
    blob = indexed_stripe(b, 1000)
    for bad in ({"s": (1, 10)}, {"k": ("a", "b")}, P.eq("f", "7")):
        with pytest.raises(TypeError):
            read_orc(blob, predicate=bad)
        with pytest.raises(TypeError):
            stripes_matching(read_metadata(blob), bad)
