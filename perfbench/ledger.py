"""Per-layer ledger of the traced run.

Each layer is timed from outside, around calls into its public
functions, on the workload's own corpus and stripes:

- in-process: ``sources`` (parquet and ORC readers/writers),
  ``operators`` (``encode_batches`` and ``decode_pass``'s task body),
  ``stripes`` and ``kernels``.  While the operator probes run, the
  stripe and kernel functions they call are wrapped in spans, which
  gives each layer's self time;
- in Spark: an empty job, trivial ``mapInArrow`` jobs that move the
  same token batches as the workload (the Arrow transfer floor),
  ``decode_pass``'s task body with its input iterator timed, manifest
  pruning of lookups, and task times from Spark's status store.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import corpus as C
from .stats import median

CODEC_CHOICES = {
    "doc_id": ("string_direct", "string_dict", "fsst"),
    "source": ("string_direct", "string_dict", "fsst"),
    "n_tok": ("rlev2", "for", "int_dict"),
    "tokens": ("rlev2", "for", "int_dict"),
}

MB = 1e6


def _mbps(nbytes: float, seconds: float) -> float:
    return nbytes / max(seconds, 1e-9) / MB


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


@contextmanager
def _patched(module, names: dict[str, object]):
    """Temporarily replace module attributes (the benchmark's spans)."""
    saved = {k: getattr(module, k) for k in names}
    try:
        for k, v in names.items():
            setattr(module, k, v)
        yield
    finally:
        for k, v in saved.items():
            setattr(module, k, v)


def _kernel_names(module) -> list[str]:
    """Module globals that are kernel functions (called per column)."""
    return [k for k, v in vars(module).items()
            if callable(v) and getattr(v, "__module__", "").startswith(
                "orc_rust_spark.kernels")]


class _PlanStub:
    """Stands in for the stripes DataFrame handed to ``decode_pass``:
    every DataFrame call returns the stub, and the function handed to a
    ``mapIn*`` call is kept.  That is the program's own decode task
    body, which the probes run in-process or inside a timing wrapper."""
    body = None

    def __getattr__(self, name):
        def call(*args, **kwargs):
            if name.startswith("mapIn"):
                self.body = args[0]
            return self
        return call


def decode_body():
    """The task body ``operators.decode.decode_pass`` runs on each
    partition of stripe blobs (full decode, every column)."""
    from orc_rust_spark.functions.tokens import TOKEN_SCHEMA
    from orc_rust_spark.operators.decode import decode_pass
    stub = _PlanStub()
    decode_pass(stub, TOKEN_SCHEMA)
    if stub.body is None:
        raise RuntimeError("decode_pass handed no task body to mapInArrow")
    return stub.body


def _token_payload(batch) -> int:
    return 4 * int(np.asarray(batch.column("n_tok")).sum())


# ---------------------------------------------------------------------------
# in-process layers
# ---------------------------------------------------------------------------

def _sources_parquet(ctx) -> tuple[list[pa.RecordBatch], dict]:
    from orc_rust_spark.sources.parquet_arrow import list_fragments
    t0 = time.perf_counter()
    batches = []
    for f, rgs in list_fragments(ctx.input_dir):
        batches.extend(pq.ParquetFile(f).read_row_groups(rgs).to_batches())
    dt = time.perf_counter() - t0
    return batches, {"sources.parquet_read_MBps":
                     _mbps(ctx.corpus.payload_bytes, dt)}


def _operators(ctx, tracer, batches) -> tuple[list[dict], dict]:
    """encode_batches and decode_pass's task body, with stripe and
    kernel spans."""
    import orc_rust_spark.operators.decode as op_dec
    import orc_rust_spark.operators.encode as op_enc
    import orc_rust_spark.stripes as stripes_mod
    from orc_rust_spark.operators.encode import encode_batches

    kernels = {k: tracer.wrap(f"kernels.{k}", getattr(stripes_mod, k))
               for k in _kernel_names(stripes_mod)}
    payload = ctx.corpus.payload_bytes
    with _patched(stripes_mod, kernels), _patched(op_enc, {
            "encode_stripe": tracer.wrap("stripes.encode_stripe",
                                         op_enc.encode_stripe)}), \
            _patched(op_dec, {"decode_stripe": tracer.wrap(
                "stripes.decode_stripe", op_dec.decode_stripe)}):
        with tracer.span("operators.encode_batches") as enc:
            rows = []
            for out in encode_batches(iter(batches), 0):
                rows.extend(out.to_pylist())
        blobs = pa.record_batch([pa.array([r["blob"] for r in rows],
                                          pa.binary())], names=["blob"])
        body = decode_body()
        with tracer.span("operators.decode_pass") as dec:
            n_dec = sum(b.num_rows for b in body(iter([blobs])))
    enc_wall = enc["end"] - enc["start"]
    dec_wall = dec["end"] - dec["start"]
    enc_self = tracer.self_times(enc["id"])
    dec_self = tracer.self_times(dec["id"])

    def both(layer: str) -> float:
        return enc_self.get(layer, 0.0) + dec_self.get(layer, 0.0)
    return rows, {
        "ok": n_dec == ctx.corpus.table.num_rows,
        "operators.encode_batches_MBps": _mbps(payload, enc_wall),
        "operators.encode_self_s": enc_self.get("operators", 0.0),
        "operators.decode_loop_MBps": _mbps(payload, dec_wall),
        "operators.self_s": both("operators"),
        "stripes.self_s": both("stripes"),
        "kernels.self_s": both("kernels"),
    }


def _stripe_inputs(table: pa.Table, rows) -> list[pa.RecordBatch]:
    """The input rows of each stripe, in encode order."""
    out, start = [], 0
    for r in rows:
        out.append(table.slice(start, r["n_rows"]).combine_chunks()
                   .to_batches()[0])
        start += r["n_rows"]
    return out


def _stripes_and_kernels(ctx, rows) -> dict:
    """Stripe and kernel probes on the workload's stripe rows.  Stripe
    columns that decode differently from their input are counted
    (``stripes.roundtrip_mismatch_columns``)."""
    from orc_rust_spark.kernels.compression import (K_ZLIB, compress_stream,
                                                    decompress_stream)
    from orc_rust_spark.kernels.for_codec import for_encode, int_dict_encode
    from orc_rust_spark.kernels.rle_v2 import rle_v2_decode, rle_v2_encode
    from orc_rust_spark.stripes import (C_FOR, C_INT_DICT, C_RLEV2,
                                        decode_stripe, encode_int_auto,
                                        encode_stripe)
    alone = {C_RLEV2: lambda v: rle_v2_encode(v, signed=True),
             C_FOR: for_encode, C_INT_DICT: int_dict_encode}
    t = {k: 0.0 for k in ("enc", "dec", "kenc", "kdec", "comp", "decomp")}
    strings_ms, projected_ms, waste = [], [], []
    payload = enc_bytes = comp_in = mismatched = 0
    ok = True
    for batch in _stripe_inputs(ctx.corpus.table, rows):
        payload += _token_payload(batch)
        blob, dt = _timed(encode_stripe, batch)
        t["enc"] += dt
        out, dt = _timed(decode_stripe, blob)
        t["dec"] += dt
        mismatched += sum(not out.column(c).equals(batch.column(c))
                          for c in batch.schema.names)
        _, dt = _timed(encode_stripe, batch.select(["doc_id", "source"]))
        strings_ms.append(dt * 1e3)
        _, dt = _timed(decode_stripe, blob, columns=["doc_id", "n_tok"])
        projected_ms.append(dt * 1e3)

        flat = batch.column("tokens").flatten().to_numpy()
        enc, dt = _timed(rle_v2_encode, flat, signed=True)
        t["kenc"] += dt
        enc_bytes += len(enc)
        back, dt = _timed(rle_v2_decode, enc, len(flat), signed=True,
                          out_dtype=np.int32)
        t["kdec"] += dt
        ok &= bool(np.array_equal(back, flat))
        comp, dt = _timed(compress_stream, enc, K_ZLIB)
        t["comp"] += dt
        comp_in += len(enc)
        raw, dt = _timed(decompress_stream, comp, K_ZLIB)
        t["decomp"] += dt
        ok &= raw == enc

        (codec, _), auto_dt = _timed(encode_int_auto, flat)
        _, win_dt = _timed(alone[codec], flat)
        waste.append(auto_dt / max(win_dt, 1e-9))
    n_tok = payload // 4
    return {
        "ok": ok,
        "stripes.encode_stripe_MBps": _mbps(payload, t["enc"]),
        "stripes.decode_stripe_MBps": _mbps(payload, t["dec"]),
        "stripes.encode_strings_ms": median(strings_ms),
        "stripes.decode_projected_ms": median(projected_ms),
        "stripes.autoselect_waste": median(waste),
        "stripes.roundtrip_mismatch_columns": mismatched,
        "kernels.rle_v2_encode_MBps": _mbps(payload, t["kenc"]),
        "kernels.rle_v2_decode_MBps": _mbps(payload, t["kdec"]),
        "kernels.rle_v2_bytes_per_token": enc_bytes / max(n_tok, 1),
        "kernels.block_compress_MBps": _mbps(comp_in, t["comp"]),
        "kernels.block_decompress_MBps": _mbps(comp_in, t["decomp"]),
    }


def _codec_choice(rows) -> dict:
    out = {f"stripes.codec_choice.{col}.{codec}": 0
           for col, codecs in CODEC_CHOICES.items() for codec in codecs}
    for r in rows:
        for col, codec in json.loads(r["codecs"]).items():
            key = f"stripes.codec_choice.{col}.{codec}"
            if key in out:
                out[key] += 1
    return out


def _sources_orc(ctx) -> dict:
    from orc_rust_spark.sources.orc_reader import read_orc
    from orc_rust_spark.sources.orc_writer import write_orc
    path = os.path.join(ctx.run_dir, "ledger.orc")
    table = ctx.corpus.table
    _, w = _timed(write_orc, path, table, compression=1)
    back, r = _timed(read_orc, path)
    ok = C.matches_all(ctx.corpus, back["doc_id"],
                       C.batch_checksums(back["tokens"]))
    os.remove(path)
    return {"ok": ok,
            "sources.orc_write_MBps": _mbps(ctx.corpus.payload_bytes, w),
            "sources.orc_read_MBps": _mbps(ctx.corpus.payload_bytes, r)}


# ---------------------------------------------------------------------------
# Spark layers
# ---------------------------------------------------------------------------

def _identity(batches):
    yield from batches


def _count_rows(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.record_batch([pa.array([n], pa.int64())], names=["n"])


def _spark_probes(ctx, tracer) -> dict:
    import pyspark.sql.types as T
    from orc_rust_spark.functions.tokens import TOKEN_SCHEMA
    from .workloads import CHECKSUM_SCHEMA
    spark = ctx.spark
    k = spark.sparkContext.defaultParallelism
    payload = ctx.corpus.payload_bytes
    id_schema = T.StructType([T.StructField("id", T.LongType())])
    n_schema = T.StructType([T.StructField("n", T.LongType())])

    empty = []
    for _ in range(10):
        with tracer.span("spark.empty_job"):
            _, dt = _timed(spark.range(1, numPartitions=1)
                           .mapInArrow(_identity, id_schema).collect)
        empty.append(dt * 1e3)

    # Arrow out of Python: tasks emit the input's token batches read
    # straight from parquet (no decode), same consumer as the workload
    files = sorted(os.path.join(ctx.input_dir, f)
                   for f in os.listdir(ctx.input_dir) if f.endswith(".parquet"))

    def emit(batches):
        for b in batches:
            for f in b.column("file").to_pylist():
                yield from pq.read_table(f).to_batches()

    out_s, in_s, oks = [], [], []
    for _ in range(3):
        plan = spark.createDataFrame([(f,) for f in files], "file STRING") \
            .repartition(min(len(files), k))
        with tracer.span("spark.arrow_out"):
            got, dt = _timed(plan.mapInArrow(emit, TOKEN_SCHEMA)
                             .mapInArrow(C.checksum_batches, CHECKSUM_SCHEMA)
                             .toArrow)
        out_s.append(dt)
        oks.append(C.matches_all(ctx.corpus, got["doc_id"], got["h"]))
        with tracer.span("spark.arrow_in"):
            rows, dt = _timed(spark.read.parquet(ctx.input_dir)
                              .mapInArrow(_count_rows, n_schema).collect)
        in_s.append(dt)
        oks.append(sum(r.n for r in rows) == ctx.corpus.table.num_rows)
    return {"ok": all(oks),
            "spark.empty_job_ms": median(empty),
            "spark.arrow_out_MBps": _mbps(payload, median(out_s)),
            "spark.arrow_in_MBps": _mbps(payload, median(in_s))}


def _task_wait(ctx, tracer, dataset_dir) -> dict:
    """Full decode through decode_pass's own task body; the time it
    waits on its input iterator is measured apart from the rest of its
    time.  Docs that come back wrong are counted
    (``stripes.decode_mismatch_docs``)."""
    from orc_rust_spark.functions.tokens import TOKEN_SCHEMA
    from orc_rust_spark.plans.pipeline import read_stripes
    from .workloads import CHECKSUM_SCHEMA
    sc = ctx.spark.sparkContext
    wait = sc.accumulator(0.0)
    body_s = sc.accumulator(0.0)
    body = decode_body()

    def _timed_next(it, acc):
        while True:
            t0 = time.perf_counter()
            try:
                b = next(it)
            except StopIteration:
                acc.add(time.perf_counter() - t0)
                return
            acc.add(time.perf_counter() - t0)
            yield b

    def timed_decode(batches):
        # time inside the body includes its waits on the input iterator
        yield from _timed_next(body(_timed_next(iter(batches), wait)), body_s)

    with tracer.span("spark.timed_decode"):
        got = (read_stripes(ctx.spark, dataset_dir).select("blob")
               .mapInArrow(timed_decode, TOKEN_SCHEMA)
               .mapInArrow(C.checksum_batches, CHECKSUM_SCHEMA).toArrow())
    return {"stripes.decode_mismatch_docs":
            C.mismatched_docs(ctx.corpus, got["doc_id"], got["h"]),
            "spark.task_wait_s": wait.value,
            "spark.task_decode_s": body_s.value - wait.value}


def _plans_lookups(ctx, tracer, dataset_dir, n: int = 8) -> dict:
    import pyspark.sql.functions as F
    from orc_rust_spark.plans.pipeline import read_manifest, read_stripes
    man = read_manifest(ctx.spark, dataset_dir).toPandas()
    rng = np.random.default_rng([ctx.seed, 11])
    stripes, ratio, prune_ms = [], [], []
    for i in rng.integers(0, ctx.corpus.table.num_rows, n):
        doc = f"d{int(i):09d}"
        hit = man[(man.doc_id_min <= doc) & (man.doc_id_max >= doc)]
        stripes.append(len(hit))
        ratio.append(float(hit.n_rows.sum()))  # rows decoded for 1 row
        with tracer.span("plans.manifest_prune"):
            _, dt = _timed(read_stripes(ctx.spark, dataset_dir)
                           .filter((F.col("doc_id_max") >= doc)
                                   & (F.col("doc_id_min") <= doc))
                           .select("stripe_id").collect)
        prune_ms.append(dt * 1e3)
    return {"plans.stripes_decoded_per_lookup": float(np.mean(stripes)),
            "plans.rows_decoded_per_row_returned": float(np.mean(ratio)),
            "plans.manifest_prune_ms": median(prune_ms)}


def _stripe_dataset(ctx) -> str:
    """The workload's stripe dataset, or one built for the ledger."""
    if ctx.dataset_dir and os.path.isdir(os.path.join(ctx.dataset_dir,
                                                      "wave=0")):
        return ctx.dataset_dir
    from orc_rust_spark.sources.parquet_arrow import scan_encode_parquet
    out = os.path.join(ctx.run_dir, "ledger-stripes")
    scan_encode_parquet(ctx.spark, ctx.input_dir).write.mode(
        "overwrite").parquet(os.path.join(out, "wave=0"))
    return out


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def executor_totals(spark) -> tuple[float, float]:
    """(run seconds, GC seconds) summed over executors so far."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    run = gc = 0.0
    for i in range(execs.size()):
        e = execs.apply(i)
        run += e.totalDuration() / 1e3
        gc += e.totalGCTime() / 1e3
    return run, gc


def task_skew(spark, group: str) -> float:
    """Max over the group's multi-task stages of max/median task time."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    worst = 1.0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is None or st.numTasks < 2:
                continue
            tasks = store.taskList(sid, st.currentAttemptId, 100000)
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(float(d.get()))
            if len(durs) >= 2 and median(durs) > 0:
                worst = max(worst, max(durs) / median(durs))
    return worst


def measure(ctx, tracer) -> tuple[dict, bool]:
    """All in-process and Spark probes; (metrics, every probe correct).
    A stripe round-trip mismatch is both a metric and a failed probe."""
    metrics: dict[str, float] = {}
    oks = []
    with tracer.span("ledger"):
        batches, m = _sources_parquet(ctx)
        metrics.update(m)
        rows, m = _operators(ctx, tracer, batches)
        oks.append(m.pop("ok"))
        metrics.update(m)
        metrics.update(_codec_choice(rows))
        m = _stripes_and_kernels(ctx, rows)
        oks.append(m.pop("ok"))
        metrics.update(m)
        del batches, rows
        m = _sources_orc(ctx)
        oks.append(m.pop("ok"))
        metrics.update(m)
        m = _spark_probes(ctx, tracer)
        oks.append(m.pop("ok"))
        metrics.update(m)
        dataset = _stripe_dataset(ctx)
        metrics.update(_task_wait(ctx, tracer, dataset))
        oks += [metrics["stripes.roundtrip_mismatch_columns"] == 0,
                metrics["stripes.decode_mismatch_docs"] == 0]
        metrics.update(_plans_lookups(ctx, tracer, dataset))
    return metrics, all(oks)
