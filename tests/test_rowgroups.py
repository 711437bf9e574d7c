"""Row-group pruning on native stripes (`src/row_index.rs` /
`src/row_group_filter.rs` analog): a stripe written with a ROW_INDEX
carries per-group statistics, and a predicate read skips the groups
whose min/max cannot intersect it without touching their bytes, so the
decoded-row count actually shrinks."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from orc_rust_spark.sources.orc_reader import read_metadata, read_orc
from orc_rust_spark.stripes import decode_stripe


def _batch(n=50_000, seed=1):
    rng = np.random.default_rng(seed)
    return pa.record_batch({
        "k": pa.array(np.arange(n, dtype=np.int64)),
        "v": pa.array(rng.integers(0, 1000, n).astype(np.int32)),
        "s": pa.array([f"id{i:08d}" for i in range(n)]),
        "f": pa.array(rng.standard_normal(n)),
    })


def test_rowgroup_roundtrip_full(indexed_stripe):
    b = _batch()
    blob = indexed_stripe(b, 8000)
    out = decode_stripe(blob)
    assert out.equals(b)
    meta = read_metadata(blob)
    assert meta.row_index_stride == 8000
    assert sum(s["n_rows"] for s in meta.stripes) == b.num_rows


def test_rowgroup_pruned_decode_skips_bytes(indexed_stripe):
    b = _batch()
    blob = indexed_stripe(b, 5000)
    stats: dict = {}
    out = read_orc(blob, predicate={"k": (12_000, 14_000)}, _stats=stats)
    # only the one group containing [12000, 14000] may decode (boundary
    # groups included); the other 9 are skipped without being read
    assert stats["groups_total"] == 10
    assert stats["groups_decoded"] <= 2
    assert stats["rows_decoded"] < b.num_rows / 2
    k = np.asarray(out.column("k"))
    # returned superset covers every matching row
    assert set(range(12_000, 14_001)) <= set(k.tolist())


def test_rowgroup_string_predicate(indexed_stripe):
    b = _batch()
    blob = indexed_stripe(b, 5000)
    stats: dict = {}
    out = read_orc(blob, predicate={"s": ("id00042000", "id00042999")},
                   _stats=stats)
    assert stats["groups_decoded"] == 1
    vals = set(out.column("s").to_pylist())
    assert {f"id{i:08d}" for i in range(42_000, 43_000)} <= vals


def test_rowgroup_float_and_negative_int_order(indexed_stripe):
    # decimal-string ordering bugs would prune matching groups here
    n = 20_000
    b = pa.record_batch({
        "x": pa.array(np.arange(-n // 2, n // 2, dtype=np.int64)),
        "y": pa.array(np.linspace(-5.0, 5.0, n)),
    })
    blob = indexed_stripe(b, 2000)
    stats: dict = {}
    out = read_orc(blob, predicate={"x": (-9_999, -9_000)}, _stats=stats)
    assert stats["groups_decoded"] == 1
    assert -9_500 in set(out.column("x").to_pylist())
    stats2: dict = {}
    out2 = read_orc(blob, predicate={"y": (-0.01, 0.01)}, _stats=stats2)
    assert stats2["groups_decoded"] <= 2
    ys = np.asarray(out2.column("y"))
    assert ((ys >= -0.51) & (ys <= 0.51)).any()


def test_rowgroup_prune_everything(indexed_stripe):
    b = _batch(n=10_000)
    blob = indexed_stripe(b, 2000)
    stats: dict = {}
    out = read_orc(blob, predicate={"k": (10**9, 10**9 + 5)}, _stats=stats)
    # the stripe statistics already rule every row out
    assert stats.get("rows_decoded", 0) == 0
    assert out.num_rows == 0
    assert out.schema == b.schema


def test_rowgroup_projection(indexed_stripe):
    b = _batch(n=10_000)
    blob = indexed_stripe(b, 4000)
    out = read_orc(blob, columns=["k", "s"], predicate={"k": (2_000, 2_500)})
    assert out.schema.names == ["k", "s"]
