"""Nested-type stripe coverage (SURVEY §2.5): struct, map, generic
lists (incl. list<float> embeddings and list<list<...>>), with nulls at
every level, slice offsets, and Spark round-trips."""

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F

from orc_rust_spark.stripes import decode_stripe, encode_stripe


def _roundtrip(batch):
    rb = decode_stripe(encode_stripe(batch))
    for name in batch.schema.names:
        assert rb.column(name).to_pylist() == batch.column(name).to_pylist(), name
    return rb


def test_struct_roundtrip():
    _roundtrip(pa.record_batch([pa.array(
        [{"x": 1, "y": "a"}, None, {"x": 3, "y": None}, {"x": None, "y": "d"}])],
        names=["s"]))


def test_map_roundtrip():
    _roundtrip(pa.record_batch([pa.array(
        [{"a": 1}, None, {}, {"b": 2, "c": None}],
        pa.map_(pa.string(), pa.int64()))], names=["m"]))


def test_list_float_and_nested_lists():
    ls_type = pa.list_(pa.struct([("k", pa.int64()),
                                  ("v", pa.list_(pa.float64()))]))
    _roundtrip(pa.record_batch([
        pa.array([[1.5, 2.5], None, [], [3.5]], pa.list_(pa.float32())),
        pa.array([[["x", None]], None, [["w"], []], [["q"]]],
                 pa.list_(pa.list_(pa.string()))),
        pa.array([[{"k": 1, "v": [1.0]}], None, [], [{"k": 2, "v": []}]],
                 ls_type),
    ], names=["lf", "ll", "ls"]))


def test_nested_sliced_batches():
    rng = np.random.default_rng(0)
    rows = [{"x": int(rng.integers(0, 100)),
             "v": [float(f) for f in rng.random(int(rng.integers(0, 5)))]}
            for _ in range(500)]
    full = pa.record_batch([pa.array(rows)], names=["s"])
    for start, ln in [(0, 200), (137, 200), (499, 1)]:
        part = full.slice(start, ln)
        rb = decode_stripe(encode_stripe(part))
        assert rb.column("s").to_pylist() == part.column("s").to_pylist()


def test_embeddings_roundtrip_spark(spark):
    from orc_rust_spark.operators.relation import roundtrip_relation
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rt = roundtrip_relation(emb, stripe_rows=256)
    a = sorted((r.vec_id, tuple(r.embedding), r.label) for r in rt.collect())
    b = sorted((r.vec_id, tuple(r.embedding), r.label) for r in emb.collect())
    assert a == b


def test_projection_skips_nested_subtree():
    batch = pa.record_batch([
        pa.array([{"x": 1}], pa.struct([("x", pa.int64())])),
        pa.array(["keep"]),
    ], names=["s", "t"])
    rb = decode_stripe(encode_stripe(batch), columns=["t"])
    assert rb.schema.names == ["t"]
    assert rb.column("t").to_pylist() == ["keep"]


def test_spark_relation_roundtrip_struct_and_map(spark):
    import pyspark.sql.types as T
    from orc_rust_spark.operators.relation import roundtrip_relation
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("s", T.StructType([
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType())])),
        T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        T.StructField("v", T.ArrayType(T.FloatType())),
    ])
    rows = [(1, (7, "x"), {"k": 1}, [1.5, 2.5]),
            (2, None, None, None),
            (3, (None, "z"), {"a": 2, "b": None}, [])]
    df = spark.createDataFrame(rows, schema)
    rt = roundtrip_relation(df, stripe_rows=2)

    def norm(r):
        return (r.id, tuple(r.s) if r.s is not None else None,
                tuple(sorted(r.m.items())) if r.m is not None else None,
                tuple(r.v) if r.v is not None else None)
    assert sorted(map(norm, rt.collect())) == sorted(map(norm, df.collect()))


def test_union_sparse_roundtrip():
    """Sparse union (`src/array_decoder/union.rs:36-163` analog): TAG
    byte-RLE stream + the ORC union's dense children, re-spaced to
    full length on decode; no Spark type exists (SURVEY §1.2) so this
    is a stripe-format capability exercised at the kernel level."""
    import numpy as np
    import pyarrow as pa
    from orc_rust_spark.stripes import decode_stripe, encode_stripe

    n = 10_000
    rng = np.random.default_rng(4)
    tags = rng.integers(0, 2, n).astype(np.int8)
    ints = pa.array(rng.integers(0, 1000, n))
    strs = pa.array([f"s{i}" if i % 5 else None for i in range(n)])
    union = pa.UnionArray.from_sparse(pa.array(tags, pa.int8()), [ints, strs],
                                      field_names=["num", "txt"])
    batch = pa.record_batch([pa.array(np.arange(n)), union], names=["k", "u"])
    blob = encode_stripe(batch)
    out = decode_stripe(blob)
    u = out.column("u")
    assert pa.types.is_union(u.type)
    got_tags = np.frombuffer(u.buffers()[1], np.int8)[:n]
    assert np.array_equal(got_tags, tags)
    # each child round-trips at the rows its tag selects (a union
    # stores only those: slots of other tags decode null)
    for i, child in enumerate((ints, strs)):
        sel = pa.array(tags == i)
        assert u.field(i).filter(sel).to_pylist() == \
            child.filter(sel).to_pylist()
    # every row's selected value follows the tag
    exp = np.where(tags == 0, ints.to_numpy(zero_copy_only=False), None)
    exp[tags == 1] = np.asarray(strs.to_pylist(), dtype=object)[tags == 1]
    assert u.to_pylist() == exp.tolist()
    # projection must skip the whole union subtree
    proj = decode_stripe(blob, columns=["k"])
    assert proj.schema.names == ["k"]
