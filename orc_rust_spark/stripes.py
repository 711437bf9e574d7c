"""Native stripes: an Arrow RecordBatch <-> one self-contained stripe
blob, the unit the Spark encode/decode passes move around.

A native stripe is a one-stripe ORC file: `sources/orc_writer.py`
writes it and `sources/orc_reader.py` decodes it straight from the
buffer, so nested types, nulls, timestamps, decimals, projection,
block compression and ROW_INDEX pruning all come from the one ORC
column-tree codec.  What makes a stripe native is its leaf codecs: int
and string columns take the smallest of several codecs, chosen per
column per stripe by the auto-selection below and recorded in the
column's ORC ColumnEncoding (the reference's per-column codec slot,
`src/writer/mod.rs:60-93`).  RLEv2 and the direct/dictionary string
layouts are written as ORC's own DIRECT_V2 / DICTIONARY_V2, so a stripe
whose columns all chose them is a plain ORC file that pyarrow reads.
Codecs beyond the reference's — FoR, int dictionary, bit-pack, FSST —
use encoding ids outside ORC's 0-3 (`sources/orc_format.py`).  External
readers do not reliably reject those ids: pyarrow 16 decodes a FoR
column into wrong values without an error.  Spec-valid RLEv2 always
stays a candidate, so each column is never larger than its spec-valid
RLEv2 encoding.
"""

from __future__ import annotations

import io
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .kernels.for_codec import bitpack_encode, for_encode, int_dict_encode
from .kernels.fsst import fsst_compress_with, fsst_train
from .kernels.rle_v2 import rle_v2_encode
from .kernels.util import bits_used_scalar, write_varint_zigzagged
from .sources.orc_format import (
    ENC_BITPACK,
    ENC_DICT_V2,
    ENC_DIRECT_V2,
    ENC_FOR,
    ENC_FSST,
    ENC_INT_DICT,
    K_DATA,
    K_LENGTH,
    TK_BOOL,
    TK_BYTE,
    TK_DECIMAL,
    TK_DOUBLE,
    TK_FLOAT,
    TK_LIST,
    TK_TIMESTAMP,
    TK_UNION,
)
from .sources.orc_reader import read_orc
from .sources.orc_writer import (
    OrcWriter,
    _dict_pays,
    _dictionary_streams,
    _direct_streams,
)

# codec ids: auto-selection candidates, and the names the encode
# manifest records per column
C_RAW = 0
C_RLEV2 = 1
C_BYTE_RLE = 3
C_BOOLEAN = 4
C_FLOAT = 5
C_STRING_DIRECT = 6
C_STRING_DICT = 7
C_FOR = 8
C_BITPACK = 9
C_INT_DICT = 10
C_FSST = 11
C_DECIMAL = 12
C_TS2 = 13          # ORC two-stream timestamp (timestamp.rs layout)

CODEC_NAMES = {
    C_RAW: "raw", C_RLEV2: "rlev2", C_BYTE_RLE: "byte_rle", C_BOOLEAN: "boolean",
    C_FLOAT: "float", C_STRING_DIRECT: "string_direct", C_STRING_DICT: "string_dict",
    C_FOR: "for", C_BITPACK: "bitpack", C_INT_DICT: "int_dict", C_FSST: "fsst",
    C_DECIMAL: "decimal", C_TS2: "ts_two_stream",
}

# the ORC column encoding each selectable codec is written as
_ENCODINGS = {
    C_RLEV2: ENC_DIRECT_V2, C_FOR: ENC_FOR, C_BITPACK: ENC_BITPACK,
    C_INT_DICT: ENC_INT_DICT, C_STRING_DIRECT: ENC_DIRECT_V2,
    C_STRING_DICT: ENC_DICT_V2, C_FSST: ENC_FSST,
}

# fixed codec of the column kinds without a choice
_KIND_CODECS = {
    TK_BOOL: C_BOOLEAN, TK_BYTE: C_BYTE_RLE, TK_FLOAT: C_FLOAT,
    TK_DOUBLE: C_FLOAT, TK_DECIMAL: C_DECIMAL, TK_TIMESTAMP: C_TS2,
    TK_UNION: C_BYTE_RLE,
}


# ---------------------------------------------------------------------------
# integer codec auto-selection (§4.3 of SURVEY: the part Catalyst can't do)
# ---------------------------------------------------------------------------

def encode_int_auto(values: np.ndarray, candidates: tuple[int, ...] = (C_RLEV2, C_FOR, C_INT_DICT)) -> tuple[int, bytes]:
    """Deterministically pick the smallest encoding among candidates.

    RLEv2 (the reference's own choice for int columns,
    `src/writer/stripe.rs:178-180`, here always spec-valid) is always a
    candidate, so the chosen size is <= the column's RLEv2 size by
    construction.
    Ties break by candidate order (deterministic resume requirement).
    Narrow dtypes (int32 token streams) pass through untouched so the
    RLEv2 batch encoder's 32-bit fast path engages.
    """
    v = np.ascontiguousarray(values)
    if v.dtype not in (np.int64, np.int32, np.int16):
        v = v.astype(np.int64)
    best_codec, best = None, None
    for c in candidates:
        if c == C_RLEV2:
            enc = rle_v2_encode(v, signed=True)
        elif c == C_FOR:
            # FoR output size is exactly computable from min/max (flat
            # pack at bits(max-min)); skip the full encode pass unless
            # it would actually beat the current best — on zipf token
            # streams RLEv2's patched-base always wins, so this turns a
            # full-array candidate encode into two cheap reductions
            if best is not None and len(v):
                lo, hi = int(v.min()), int(v.max())
                width = bits_used_scalar((hi - lo) & 0xFFFFFFFFFFFFFFFF)
                hdr = bytearray()
                write_varint_zigzagged(hdr, len(v), False)
                write_varint_zigzagged(hdr, lo, True)
                est = len(hdr) + 1 + ((len(v) * width + 7) // 8 if width else 0)
                if est >= len(best):
                    continue
            enc = for_encode(v)
        elif c == C_BITPACK:
            if len(v) and v.min() < 0:
                continue
            enc = bitpack_encode(v)
        elif c == C_INT_DICT:
            # only worth trying when cardinality is low enough to pay off
            if len(v) > 64 and len(np.unique(v[:: max(len(v) // 1024, 1)])) > 256:
                continue
            enc = int_dict_encode(v)
        else:
            continue
        if best is None or len(enc) < len(best):
            best_codec, best = c, enc
    assert best is not None
    return best_codec, best


# ---------------------------------------------------------------------------
# string codec auto-selection
# ---------------------------------------------------------------------------

def _encode_string_auto(valid: pa.Array, direct_only: bool = False):
    """-> (codec, dictionary size, [(ORC stream kind, bytes)]) for the
    non-null values of a string/binary column.  Candidates: direct,
    dictionary, FSST-over-direct (kernels/fsst.py; north_star codec
    absent from the reference).  FSST is tried only when a sampled
    compression estimate predicts a win; the smallest actual encoding
    is chosen, ties broken deterministically (direct < dict < fsst by
    candidate order).  `direct_only` pins the direct layout."""
    direct = _direct_streams(valid)
    (_, blob), (_, length_stream) = direct
    best = (C_STRING_DIRECT, 0, direct)
    if direct_only:
        return best
    direct_size = size = len(blob) + len(length_stream)
    if _dict_pays(valid):
        n_dict, streams = _dictionary_streams(valid)
        dict_size = sum(len(s) for _, s in streams)
        if dict_size < size:
            best, size = (C_STRING_DICT, n_dict, streams), dict_size
    # FSST attempt, sample-gated (blob must be big enough to amortize
    # the symbol table and the estimate must predict a real win).  The
    # table trains ONCE on the leading 16 KiB — `fsst_compress(probe)`
    # would train on exactly the same bytes, so reusing the table for
    # the probe estimate and the full encode is byte-identical while
    # skipping a duplicate train + probe parse per stripe.
    # Skipped entirely when dictionary already compresses >= 8x: one
    # FSST code covers at most MAX_LEN == 8 input bytes, so 8x is
    # FSST's ceiling on the DATA stream before table overhead — it
    # cannot beat such a dictionary, and training it was a pure
    # per-stripe fixed cost on low-cardinality columns.  Direct and
    # dict stay in the race, so the chosen size remains <= the
    # spec-valid direct/dictionary layouts'.
    dict_crushed = best[0] == C_STRING_DICT and size * 8 <= direct_size
    if len(blob) >= 2048 and not dict_crushed:
        data_np = np.frombuffer(blob, dtype=np.uint8)
        table = fsst_train(data_np)
        probe_n = 1 << 14
        est = fsst_compress_with(data_np[:probe_n], table)
        if len(est) * 10 < min(len(blob), probe_n) * 8:  # ratio > 1.25
            full = est if len(blob) <= probe_n \
                else fsst_compress_with(data_np, table)
            if len(full) + len(length_stream) < size:
                best = (C_FSST, 0, [(K_DATA, full), (K_LENGTH, length_stream)])
    return best


# ---------------------------------------------------------------------------
# stripe encode / decode
# ---------------------------------------------------------------------------

@dataclass
class ColumnPlan:
    """Per-column codec routing from the sampling pass.  The planned
    codec narrows the candidate set but RLEv2 (the reference's own
    encoding) always stays in the race, so the chosen size remains <=
    the column's spec-valid RLEv2 size on every stripe."""
    codec: int | None = None

    def candidates(self) -> tuple[int, ...] | None:
        if self.codec is None:
            return None  # encoder default: try every candidate
        if self.codec == C_RLEV2:
            return (C_RLEV2,)
        return (C_RLEV2, self.codec)


class _NativeWriter(OrcWriter):
    """OrcWriter whose int and string leaves take the smallest codec,
    extension encodings allowed.  A top-level column's plan steers its
    ints, or a list column's elements.  Row-index mode pins every
    group to RLEv2 / direct strings, since one column encoding must
    cover all groups."""

    def __init__(self, sink, schema: pa.Schema,
                 plans: dict[str, ColumnPlan] | None = None, **kw):
        super().__init__(sink, schema, **kw)
        plans = plans or {}
        self.plans = {self._leaf(cid): plans[f.name]
                      for f, cid in zip(schema, self.types[0][1])
                      if f.name in plans}
        self.codecs: dict[int, int] = {}  # cid -> chosen codec

    def _leaf(self, cid: int) -> int:
        """A list column's element, else the column itself."""
        return self.types[cid][1][0] if self.types[cid][0] == TK_LIST \
            else cid

    def _ints(self, cid, vals, grouped):
        plan = self.plans.get(cid)
        cand = (C_RLEV2,) if grouped else plan.candidates() if plan else None
        codec, data = encode_int_auto(vals) if cand is None \
            else encode_int_auto(vals, cand)
        self.codecs[cid] = codec
        return _ENCODINGS[codec], data

    def _strings(self, cid, valid, grouped):
        codec, dict_size, streams = _encode_string_auto(valid, grouped)
        self.codecs[cid] = codec
        return _ENCODINGS[codec], dict_size, streams

    def manifest_codecs(self) -> dict[str, str]:
        """{column: codec name} of the last stripe written; a list
        column reports its elements' codec."""
        out = {}
        for f, cid in zip(self.schema, self.types[0][1]):
            leaf = self._leaf(cid)
            codec = self.codecs.get(
                leaf, _KIND_CODECS.get(self.types[leaf][0], C_RAW))
            out[f.name] = CODEC_NAMES[codec]
        return out


def encode_stripe(batch: pa.RecordBatch, plans: dict[str, ColumnPlan] | None = None,
                  *, _compression: int = 0, _codecs: dict | None = None) -> bytes:
    """Encode a batch as a native stripe (a one-stripe ORC file).
    `_compression` is the encode pass's block compression (an ORC
    CompressionKind, applied per stream); `_codecs`, when given,
    receives the manifest's {column: codec name}."""
    sink = io.BytesIO()
    w = _NativeWriter(sink, batch.schema, plans, compression=_compression)
    w.write_batch(batch)
    w.close()
    if _codecs is not None:
        _codecs.update(w.manifest_codecs())
    return sink.getvalue()


def decode_stripe(blob, columns: list[str] | None = None) -> pa.RecordBatch:
    """Decode a native stripe from bytes or a zero-copy buffer
    (pa.Buffer, memoryview).  `columns` projects: unprojected streams
    are never touched (the analog of `src/projection.rs` +
    `src/stripe.rs:159`).  Timestamps decode at microseconds."""
    tbl = read_orc(blob, columns=columns, timestamp_precision="us")
    batches = tbl.to_batches()
    if len(batches) == 1:  # one stripe: single-chunk columns
        return batches[0]
    return pa.RecordBatch.from_arrays(
        [c.combine_chunks() for c in tbl.columns], schema=tbl.schema)
