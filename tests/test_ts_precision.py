"""`read_orc(schema=...)` + timestamp precision options — the
reference's `with_schema` / `with_timestamp_precision` surface
(`src/arrow_reader.rs:80-135`, `src/schema.rs:31-38`), mirrored against
the reference's OWN fixture tests (`tests/basic/main.rs:504-618`):
pyarrow_timestamps.orc at every unit and overflowing_timestamps.orc
(year 0001 = -62135596800 s, unrepresentable in int64 nanoseconds)."""

from __future__ import annotations

from datetime import datetime
from decimal import Decimal

import pyarrow as pa
import pyarrow.orc as po
import pytest

from orc_rust_spark.sources.orc_reader import read_orc

REF = "/root/reference/tests/basic/data"
OVERFLOW = f"{REF}/overflowing_timestamps.orc"
PA_TS = f"{REF}/pyarrow_timestamps.orc"


def test_overflowing_default_ns_errors():
    """Default ns read of the year-0001 instant must ERROR (the
    reference's overflowing_timestamps_test asserts collect() is Err;
    a wrapped int64 would be silent data corruption)."""
    with pytest.raises(ValueError, match="overflow"):
        read_orc(OVERFLOW)


@pytest.mark.parametrize("unit", ["s", "ms", "us"])
def test_custom_precision_via_schema(unit):
    """`custom_precision_timestamps_test` (tests/basic/main.rs:566-589):
    with_schema at s/ms/us decodes the year-0001 instant exactly."""
    schema = pa.schema([pa.field("id", pa.int32()),
                        pa.field("ts", pa.timestamp(unit))])
    t = read_orc(OVERFLOW, schema=schema)
    assert t.schema == schema
    assert t.column("id").to_pylist() == [1, 2, 3]
    assert t.column("ts").to_pylist() == [
        datetime(1970, 5, 23, 21, 21, 18),
        datetime(1, 1, 1, 0, 0, 0),
        datetime(1970, 5, 23, 21, 21, 18),
    ]


@pytest.mark.parametrize("unit", ["s", "ms", "us"])
def test_custom_precision_via_parameter(unit):
    """The `with_timestamp_precision` spelling (no schema)."""
    t = read_orc(OVERFLOW, timestamp_precision=unit)
    assert t.column("timestamp").type == pa.timestamp(unit)
    epoch = {"s": 1, "ms": 10 ** 3, "us": 10 ** 6}[unit]
    raw = t.column("timestamp").cast(pa.int64()).to_pylist()
    assert raw == [12345678 * epoch, -62135596800 * epoch,
                   12345678 * epoch]


def test_decimal128_timestamps():
    """`decimal128_timestamps_test` (tests/basic/main.rs:590-618): the
    lossless Decimal128(38, 9) seconds.nanoseconds representation."""
    schema = pa.schema([pa.field("id", pa.int32()),
                        pa.field("ts", pa.decimal128(38, 9))])
    t = read_orc(OVERFLOW, schema=schema)
    assert t.schema == schema
    assert t.column("ts").to_pylist() == [
        Decimal("12345678.000000000"),
        Decimal("-62135596800.000000000"),
        Decimal("12345678.000000000"),
    ]
    # same via the precision parameter
    t2 = read_orc(OVERFLOW, timestamp_precision="decimal")
    assert t2.column("timestamp").to_pylist() == \
        t.column("ts").to_pylist()


def test_pyarrow_timestamps_every_unit_vs_pyarrow():
    """pyarrow_timestamps.orc (`timestamps_test`,
    tests/basic/main.rs:504-543) value-checked against pyarrow's
    independent C++ reader at every precision (all values are
    whole-second, so every unit is exact)."""
    want = po.ORCFile(PA_TS).read()
    got_ns = read_orc(PA_TS)
    for col in ("timestamp_notz", "timestamp_utc"):
        assert got_ns.column(col).cast(pa.int64()).to_pylist() == \
            want.column(col).cast(pa.int64()).to_pylist(), col
    for unit in ("s", "ms", "us"):
        t = read_orc(PA_TS, timestamp_precision=unit)
        div = {"s": 10 ** 9, "ms": 10 ** 6, "us": 10 ** 3}[unit]
        for col in ("timestamp_notz", "timestamp_utc"):
            assert t.column(col).cast(pa.int64()).to_pylist() == [
                None if v is None else v // div
                for v in want.column(col).cast(pa.int64()).to_pylist()], \
                (unit, col)


def test_sub_unit_values_error_not_truncate(tmp_path):
    """A foreign writer's sub-microsecond instants must ERROR at
    timestamp_precision='us' (`src/encoding/timestamp.rs:170-177`:
    "Error if loss of precision"), decode exactly at 'ns', and survive
    losslessly at 'decimal'."""
    path = str(tmp_path / "ns.orc")
    vals = pa.array([1_000_000_001, 42, None], pa.timestamp("ns"))
    po.write_table(pa.table({"t": vals}), path)
    with pytest.raises(ValueError, match="precision"):
        read_orc(path, timestamp_precision="us")
    got = read_orc(path)  # default ns: exact
    assert got.column("t").cast(pa.int64()).to_pylist() == \
        [1_000_000_001, 42, None]
    dec = read_orc(path, timestamp_precision="decimal")
    assert dec.column("t").to_pylist() == [
        Decimal("1.000000001"), Decimal("0.000000042"), None]


def test_with_schema_positional_semantics():
    """with_schema replaces the derived schema POSITIONALLY (reference
    semantics: the reference test renames column `timestamp` to `ts`
    this way, tests/basic/main.rs:571-575), coerces non-timestamp
    fields (safe casts only), composes with a projection, and errors
    on a field-count mismatch."""
    schema = pa.schema([pa.field("ident", pa.int64()),
                        pa.field("ts", pa.timestamp("ms"))])
    t = read_orc(OVERFLOW, schema=schema)
    assert t.schema == schema
    assert t.column_names == ["ident", "ts"]
    assert t.column("ident").to_pylist() == [1, 2, 3]
    # schema applies to the PROJECTED columns
    only = read_orc(OVERFLOW, columns=["timestamp"],
                    schema=pa.schema([pa.field("t", pa.timestamp("s"))]))
    assert only.column_names == ["t"]
    assert only.num_rows == 3
    with pytest.raises(ValueError, match="positional|fields"):
        read_orc(OVERFLOW, schema=pa.schema([pa.field("x", pa.int8())]))
    with pytest.raises(ValueError, match="timestamp_precision"):
        read_orc(OVERFLOW, timestamp_precision="fortnights")


def test_read_orc_spark_timestamp_precision(tmp_path):
    """The distributed source's precision surface: whole-us foreign
    timestamps read at the 'us' default; sub-us values ERROR with the
    clear precision message instead of an opaque Arrow cast failure;
    'decimal' reads them losslessly as DecimalType(38,9); whole-second
    values, top-level and nested, read at every unit ('ms' and 's'
    tables must be cast to µs, the only unit mapInArrow accepts)."""
    import pytest
    from pyspark.sql import SparkSession
    from orc_rust_spark.sources.orc_spark import read_orc_spark
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    d = tmp_path / "ts"
    d.mkdir()
    vals = pa.array([1_000_000_001, 42_000, None], pa.timestamp("ns"))
    po.write_table(pa.table({"t": vals}), str(d / "a.orc"))

    with pytest.raises(ValueError, match="us|ms|decimal"):
        read_orc_spark(spark, str(d), timestamp_precision="fortnights")
    with pytest.raises(Exception, match="precision"):
        read_orc_spark(spark, str(d)).collect()

    rows = read_orc_spark(spark, str(d),
                          timestamp_precision="decimal") \
        .orderBy("t").collect()
    got = [None if r["t"] is None else str(r["t"]) for r in rows]
    assert got == [None, "0.000042000", "1.000000001"]

    # whole-us values at the default
    d2 = tmp_path / "ts2"
    d2.mkdir()
    po.write_table(pa.table({"t": pa.array([1_000_000, 2_000_000],
                                           pa.timestamp("ns"))}),
                   str(d2 / "a.orc"))
    got2 = sorted(r["t"].isoformat()
                  for r in read_orc_spark(spark, str(d2)).collect())
    assert got2 == ["1970-01-01T00:00:00.001000",
                    "1970-01-01T00:00:00.002000"]

    # whole-second values at every unit, top-level and in a list: 'ms'
    # and 's' tables are cast to Spark's µs timestamps by the task
    d3 = tmp_path / "ts3"
    d3.mkdir()
    secs = [1_000_000_000, 2_000_000_000, None]
    po.write_table(pa.table({
        "k": pa.array([0, 1, 2], pa.int32()),
        "t": pa.array(secs, pa.timestamp("ns")),
        "ts": pa.array([[v] for v in secs],
                       pa.list_(pa.timestamp("ns")))}), str(d3 / "a.orc"))
    iso = ["1970-01-01T00:00:01", "1970-01-01T00:00:02", None]
    for unit in ("us", "ms", "s", "decimal"):
        rows = read_orc_spark(spark, str(d3), timestamp_precision=unit) \
            .orderBy("k").collect()
        want = [Decimal(1), Decimal(2), None] if unit == "decimal" else iso
        for got in ([r["t"] for r in rows], [r["ts"][0] for r in rows]):
            if unit != "decimal":
                got = [None if v is None else v.isoformat() for v in got]
            assert got == want, unit
