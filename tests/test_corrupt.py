"""Corrupt-input behavior: malformed stripes must raise clean errors,
never return garbage rows (the reference ships corrupt fixtures under
`tests/integration/data/corrupt/`; same contract here)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.sources.orc_reader import read_metadata, read_orc
from orc_rust_spark.stripes import decode_stripe, encode_stripe


def _batch():
    rng = np.random.default_rng(0)
    return pa.record_batch({
        "k": pa.array(np.arange(5000, dtype=np.int64)),
        "s": pa.array([f"row{i}" for i in range(5000)]),
        "f": pa.array(rng.standard_normal(5000)),
    })


def _blob():
    return encode_stripe(_batch())


def test_bad_magic():
    blob = _blob()
    with pytest.raises(ValueError, match="magic"):
        decode_stripe(b"XXXX" + blob[4:])


def test_truncated_blob():
    blob = _blob()
    for cut in (len(blob) // 2, len(blob) - 7, 10):
        with pytest.raises(Exception) as ei:
            decode_stripe(blob[:cut])
        assert isinstance(ei.value, (ValueError, IndexError))


def test_overlong_stream_length():
    blob = bytearray(_blob())
    ok = decode_stripe(bytes(blob))
    assert ok.num_rows == 5000
    # chop the payload: the tail no longer ends in a postscript, and a
    # stripe that claims more bytes than the buffer holds is refused
    with pytest.raises(ValueError, match="truncated"):
        decode_stripe(bytes(blob[: len(blob) - 100]))
    with pytest.raises(ValueError, match="truncated"):
        decode_stripe(bytes(blob[:3]) + bytes(blob[200:]))


def test_corrupt_compressed_wrapper():
    codecs_plain: dict = {}
    codecs_zlib: dict = {}
    plain = encode_stripe(_batch(), _codecs=codecs_plain)
    blob = encode_stripe(_batch(), _compression=1, _codecs=codecs_zlib)
    assert decode_stripe(blob).equals(decode_stripe(plain))
    # the manifest names the same codecs whatever the block compression
    assert codecs_zlib == codecs_plain
    # flip bytes inside a deflate body -> zlib error, not silent data
    bad = bytearray(blob)
    bad[30] ^= 0xFF
    bad[31] ^= 0xFF
    with pytest.raises(Exception):
        decode_stripe(bytes(bad))


def test_rowgroup_truncated(indexed_stripe):
    b = pa.record_batch({"k": pa.array(np.arange(10_000, dtype=np.int64))})
    blob = indexed_stripe(b, 2000)
    with pytest.raises(Exception) as ei:
        read_orc(blob[: len(blob) // 2], predicate={"k": (0, 10)})
    assert isinstance(ei.value, (ValueError, IndexError))


def test_rowgroup_bad_magic():
    with pytest.raises(ValueError, match="magic"):
        read_orc(b"NOPE" + b"\x00" * 64, predicate={"k": (0, 10)})


def test_num_rows_on_truncated_header():
    meta = read_metadata(_blob())
    assert sum(s["n_rows"] for s in meta.stripes) == 5000
    with pytest.raises(Exception):
        read_metadata(b"ORC")  # nothing past the magic


def test_stripe_bytes_deterministic(indexed_stripe):
    """Resume correctness depends on stripe bytes being a pure function
    of the input rows (BASELINE north_rule: idempotent resume) —
    identical batches must encode to identical blobs across calls."""
    rng = np.random.default_rng(7)
    b = pa.record_batch({
        "k": pa.array(((rng.zipf(1.3, 20_000) - 1) % 50257).astype(np.int32)),
        "s": pa.array([f"doc{i:06d}" for i in range(20_000)]),
        "f": pa.array(rng.standard_normal(20_000)),
    })
    blobs = {encode_stripe(b) for _ in range(3)}
    assert len(blobs) == 1
    grouped = {indexed_stripe(b, 4096) for _ in range(3)}
    assert len(grouped) == 1
