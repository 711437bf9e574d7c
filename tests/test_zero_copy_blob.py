"""Zero-copy blob decode: pa.Buffer memoryviews are SIGNED ('b'), so a
decoder that indexes bytes >= 128 without normalizing reads negative
values in every varint/header parse (caught live: FSST symbol counts).
decode_stripe (and read_orc on a row-indexed stripe) must produce
identical results from a pa.Buffer view and from materialized bytes."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from orc_rust_spark.sources.orc_reader import read_orc
from orc_rust_spark.stripes import decode_stripe, encode_stripe


def _stripe_batch(n=4000):
    rng = np.random.default_rng(3)
    lens = rng.integers(1, 40, n)
    toks = [rng.integers(0, 1 << 20, ln).astype(np.int32) for ln in lens]
    return pa.RecordBatch.from_arrays([
        pa.array([f"doc{i:05d}" for i in range(n)]),
        pa.array([t for t in toks], pa.list_(pa.int32())),
        pa.array([len(t) for t in toks], pa.int32()),
        pa.array([("web", "book", "code")[i % 3] for i in range(n)]),
    ], names=["doc_id", "tokens", "n_tok", "source"])


def test_decode_stripe_from_pa_buffer_matches_bytes():
    blob = encode_stripe(_stripe_batch())
    assert any(b >= 128 for b in blob[:64])  # headers exercise signedness
    arr = pa.array([blob], pa.binary())
    via_buffer = decode_stripe(arr[0].as_buffer())
    via_bytes = decode_stripe(arr[0].as_py())
    assert via_buffer.equals(via_bytes)
    # sliced array (nonzero value offset) too
    arr2 = pa.array([b"x" * 7, blob], pa.binary()).slice(1)
    assert decode_stripe(arr2[0].as_buffer()).equals(via_bytes)


def test_decode_rowgroups_from_pa_buffer(indexed_stripe):
    blob = indexed_stripe(_stripe_batch(), 1000)
    arr = pa.array([blob], pa.binary())
    stats: dict = {}
    pred = {"n_tok": (5, 9)}
    got = read_orc(arr[0].as_buffer(), predicate=pred, _stats=stats)
    want = read_orc(arr[0].as_py(), predicate=pred)
    assert got.equals(want)
    assert read_orc(arr[0].as_buffer()).equals(read_orc(blob))
    assert stats["groups_total"] == 4
