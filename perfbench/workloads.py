"""The three workloads.  Each one owns a corpus recipe and:

- ``prepare`` and ``warm``: build what the measured loop reads and run
  it once untimed (both part of set-up);
- ``write`` and ``read``: one request of the closed measured loop
  (latency, payload, ok);
- ``storage``: stored bytes of the workload's dataset and of the
  pyarrow ORC C++ reference writing the same rows.

A request that raises or returns data that does not match the
generator's checksums is a failed request.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.orc as po
import pyspark.sql.types as T

from . import corpus as C

CHECKSUM_SCHEMA = T.StructType([T.StructField("doc_id", T.StringType()),
                                T.StructField("h", T.LongType())])


class Ctx:
    """State shared by a run's set-up, loop and ledger."""

    def __init__(self, spark, run_dir: str, seed: int, corpus: C.Corpus,
                 input_dir: str):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.corpus = corpus
        self.input_dir = input_dir
        self.tracer = None                    # set for the traced half-loop
        self.rng = np.random.default_rng([seed, 7])
        self._dirs = 0
        self.dataset_dir: str | None = None   # latest stripe dataset

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext
            return nullcontext()
        return self.tracer.span(name)

    def count(self, name: str, n: float = 1) -> None:
        if self.tracer is not None:
            self.tracer.count(name, n)

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.run_dir, f"{name}-{self._dirs}")


def _request(kind: str, fn, payload: int) -> dict:
    t0 = time.perf_counter()
    try:
        ok = bool(fn())
        err = None
    except Exception as exc:  # a raised request is a failed request
        ok, err = False, f"{type(exc).__name__}: {exc}"[:300]
    return {"kind": kind, "ms": (time.perf_counter() - t0) * 1e3,
            "payload": payload, "ok": ok, "error": err}


def _checksummed(df) -> pa.Table:
    """Consume every decoded token on the workers; collect checksums."""
    return df.mapInArrow(C.checksum_batches, CHECKSUM_SCHEMA).toArrow()


def _orc_ref_bytes(ctx: Ctx, compression: str) -> int:
    path = os.path.join(ctx.run_dir, f"ref-{compression}.orc")
    po.write_table(ctx.corpus.table, path, compression=compression)
    size = os.path.getsize(path)
    os.remove(path)
    return size


def _manifest(ctx: Ctx, out_dir: str):
    from orc_rust_spark.plans.pipeline import read_manifest
    return read_manifest(ctx.spark, out_dir).toPandas()


class Workload:
    """A loop of one write request followed by ``reads_per_write`` read
    requests, repeated."""
    name = ""
    spec: C.CorpusSpec
    reads_per_write: int

    def prepare(self, ctx: Ctx) -> None:
        pass

    def warm(self, ctx: Ctx) -> list[dict]:
        return [self.write(ctx), self.read(ctx)]

    def write(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def read(self, ctx: Ctx) -> dict:
        raise NotImplementedError

    def storage(self, ctx: Ctx) -> dict:
        raise NotImplementedError


def _full_read(ctx: Ctx, make_df) -> dict:
    """Read request: build the DataFrame, consume every token on the
    workers, check every doc's checksum in the client."""
    def read():
        with ctx.span("plans.read"):
            with ctx.span("plans.build_df"):
                df = make_df()
            with ctx.span("spark.action"):
                got = _checksummed(df)
            ctx.count("plans.read.requests")
            ctx.count("plans.read.rows_returned", got.num_rows)
            with ctx.span("bench.verify"):
                return C.matches_all(ctx.corpus, got["doc_id"], got["h"])
    return _request("read", read, ctx.corpus.payload_bytes)


def _stripe_storage(ctx: Ctx) -> dict:
    m = _manifest(ctx, ctx.dataset_dir)
    return {"stored": int(m["output_bytes"].sum()),
            "stored_tokens": int(m["n_tokens"].sum()),
            "ref": _orc_ref_bytes(ctx, "uncompressed"),
            "ref_kind": "pyarrow ORC C++, RLEv2, uncompressed",
            "codecs": m["codecs"].tolist()}


class BulkRoundtrip(Workload):
    """Fused parquet scan -> native stripe encode -> stripe dataset,
    then full decode_corpus reads whose tokens the workers checksum."""
    name = "bulk_roundtrip"
    spec = C.CorpusSpec(n_docs=20000, n_tokens=11_000_000, length="lognormal",
                        outliers_per_1000=1, row_group_rows=1250)
    reads_per_write = 4

    def write(self, ctx: Ctx) -> dict:
        from orc_rust_spark.sources.parquet_arrow import scan_encode_parquet
        out = ctx.fresh_dir("stripes")
        _replace_dataset(ctx, out)

        def write():
            with ctx.span("plans.write"):
                with ctx.span("plans.build_df"):
                    df = scan_encode_parquet(ctx.spark, ctx.input_dir)
                with ctx.span("spark.action"):
                    df.write.mode("overwrite").parquet(
                        os.path.join(out, "wave=0"))
            ctx.count("plans.write.requests")
            return True
        return _request("write", write, ctx.corpus.payload_bytes)

    def read(self, ctx: Ctx) -> dict:
        from orc_rust_spark.plans.pipeline import decode_corpus
        return _full_read(ctx, lambda: decode_corpus(ctx.spark, ctx.dataset_dir))

    def storage(self, ctx: Ctx) -> dict:
        return _stripe_storage(ctx)


class PointLookup(Workload):
    """Closed loop, one client: each read decodes one seeded-random
    doc_id through decode_corpus(doc_id_range=...) over a stripe set
    that plans.encode_corpus wrote during set-up.  Each write encodes
    the same input again with encode_corpus into a directory of its
    own, which is then removed; the lookup set never changes."""
    name = "point_lookup"
    spec = C.CorpusSpec(n_docs=4000, n_tokens=8_000_000, length="uniform",
                        lo=0.8, hi=1.2, row_group_rows=250)
    reads_per_write = 10

    def _encode(self, ctx: Ctx, out: str) -> None:
        from orc_rust_spark.plans.pipeline import encode_corpus
        encode_corpus(ctx.spark.read.parquet(ctx.input_dir), out)

    def prepare(self, ctx: Ctx) -> None:
        ctx.dataset_dir = ctx.fresh_dir("lookup-stripes")
        self._encode(ctx, ctx.dataset_dir)

    def warm(self, ctx: Ctx) -> list[dict]:
        return [self.write(ctx)] + [self.read(ctx) for _ in range(5)]

    def write(self, ctx: Ctx) -> dict:
        import shutil
        out = ctx.fresh_dir("write")

        def write():
            with ctx.span("plans.write"):
                self._encode(ctx, out)
            ctx.count("plans.write.requests")
            return True
        req = _request("write", write, ctx.corpus.payload_bytes)
        if req["ok"]:  # checked after the timed request
            stored = _request("check", lambda: int(_manifest(ctx, out)[
                "n_tokens"].sum()) == ctx.corpus.n_tokens, 0)
            req.update(ok=stored["ok"], error=stored["error"])
        shutil.rmtree(out, ignore_errors=True)
        return req

    def read(self, ctx: Ctx) -> dict:
        from orc_rust_spark.plans.pipeline import decode_corpus
        i = int(ctx.rng.integers(ctx.corpus.table.num_rows))
        doc = f"d{i:09d}"

        def lookup():
            with ctx.span("plans.lookup"):
                with ctx.span("plans.build_df"):
                    df = decode_corpus(ctx.spark, ctx.dataset_dir,
                                       doc_id_range=(doc, doc))
                with ctx.span("spark.action"):
                    got = df.toArrow()
                ctx.count("plans.lookup.requests")
                ctx.count("plans.lookup.rows_returned", got.num_rows)
                with ctx.span("bench.verify"):
                    if got.num_rows != 1 or got["doc_id"][0].as_py() != doc:
                        return False
                    h = C.batch_checksums(got["tokens"])
                    return bool(h[0] == ctx.corpus.checksums[i])
        payload = 4 * int(ctx.corpus.table["n_tok"][i].as_py())
        return _request("read", lookup, payload)

    def storage(self, ctx: Ctx) -> dict:
        return _stripe_storage(ctx)


class OrcArchive(Workload):
    """Text-like corpus written as real .orc files with zlib through
    write_orc_spark, read back in full with read_orc_spark."""
    name = "orc_archive"
    spec = C.CorpusSpec(n_docs=70000, n_tokens=5_000_000, length="lognormal",
                        mu=4.0, sigma=0.8, max_len=4000,
                        shape_p=(1.0, 0, 0, 0), row_group_rows=5000)
    reads_per_write = 4

    def write(self, ctx: Ctx) -> dict:
        from orc_rust_spark.sources.orc_spark import write_orc_spark
        out = ctx.fresh_dir("orc")
        _replace_dataset(ctx, out)

        def write():
            with ctx.span("plans.write"):
                with ctx.span("plans.build_df"):
                    df = write_orc_spark(ctx.spark.read.parquet(ctx.input_dir),
                                         out, compression=1)
                with ctx.span("spark.action"):
                    rows = df.collect()
            ctx.count("plans.write.requests")
            ctx.count("plans.write.files", len(rows))
            return sum(r.n_rows for r in rows) == ctx.corpus.table.num_rows
        return _request("write", write, ctx.corpus.payload_bytes)

    def read(self, ctx: Ctx) -> dict:
        from orc_rust_spark.sources.orc_spark import read_orc_spark
        return _full_read(ctx, lambda: read_orc_spark(ctx.spark, ctx.dataset_dir))

    def storage(self, ctx: Ctx) -> dict:
        files = glob.glob(os.path.join(ctx.dataset_dir, "*.orc"))
        return {"stored": sum(os.path.getsize(f) for f in files),
                "stored_tokens": ctx.corpus.n_tokens,
                "ref": _orc_ref_bytes(ctx, "zlib"),
                "ref_kind": "pyarrow ORC C++, RLEv2, zlib"}


def _replace_dataset(ctx: Ctx, new_dir: str) -> None:
    """Keep only the newest dataset on disk."""
    import shutil
    old = ctx.dataset_dir
    ctx.dataset_dir = new_dir
    if old and old != new_dir:
        shutil.rmtree(old, ignore_errors=True)


WORKLOADS = {w.name: w for w in (BulkRoundtrip(), PointLookup(), OrcArchive())}
