"""FSST string compression (Boncz, Neumann, Leis: "FSST: Fast Random
Access String Compression", VLDB 2020) — a from-scratch implementation,
NOT present in the reference (`src/array_decoder/string.rs:58-83` only
has direct + dictionary; SURVEY §2.7), required by BASELINE.json
north_star ("FSST symbol tables for strings").

Format (ours; self-describing blob):
    u8  n_symbols (<= 255)
    u8  lengths[n_symbols] (1..8)
    ..  symbol bytes, concatenated
    varint n_codes
    ..  code stream: one byte per code; 255 = escape, next byte literal

Implementation notes:
- Symbol table learned on a bounded sample with the paper's iterative
  scheme: parse with the current table, count symbol and adjacent-pair
  frequencies, keep the 254 highest-gain (count * length) candidates.
- Encoding computes the longest symbol match at EVERY byte position
  vectorized (per length 8..1, u64 prefix lookup via np.searchsorted on
  the sorted symbol keys), then enumerates the greedy parse chain with
  jump-pointer composition (see `_parse`) — no per-code Python loop.
- Decoding is fully vectorized: code -> (length, bytes) table expansion
  via np.repeat over a (n_symbols, 8) byte matrix.
"""

from __future__ import annotations

import numpy as np

from .util import U64, read_varint, write_varint

MAX_SYMBOLS = 254  # code 255 = escape; one spare to keep codes < 255
MAX_LEN = 8
ESCAPE = 255


_H3_BITS = 16  # 65536 slots for <=254 long symbols: collisions ~0.2%
_H3_MULT = np.uint32(0x9E3779B1)  # Fibonacci hashing of the 3-byte prefix


class SymbolTable:
    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        self.symbols = symbols
        # longest-match acceleration — the paper's lossy perfect hash
        # (§4 "fast symbol table"): direct LUTs for 1- and 2-byte
        # symbols; for len >= 3 a single-slot hash on the 3-byte prefix
        # returning (code, len) in ONE probe.  Lossy means at most one
        # long symbol per slot: a symbol whose slot is already claimed
        # (earlier = higher gain, symbols arrive ranked) simply never
        # matches — it stays in the table and decodes fine, it just
        # isn't emitted.  This replaces the 21-pass shrinking bucket
        # probe that capped match throughput at ~4 MB/s/core.
        self._lut1 = np.full(256, -1, dtype=np.int32)
        self._lut2 = np.full(65536, -1, dtype=np.int32)
        H = 1 << _H3_BITS
        self._h3code = np.full(H, -1, dtype=np.int32)
        nsym = max(len(symbols), 1)
        keys = np.zeros(nsym, dtype=U64)
        lens = np.zeros(nsym, dtype=np.int64)
        if symbols:
            # left-aligned u64 keys + lengths for ALL symbols, one
            # frombuffer instead of a per-symbol shift loop (train
            # builds 5 tables per column-stripe; this loop was ~40% of
            # its fixed cost)
            buf = b"".join(s.ljust(MAX_LEN, b"\0") for s in symbols)
            keys[: len(symbols)] = np.frombuffer(buf, dtype=">u8")
            lens[: len(symbols)] = np.fromiter(
                (len(s) for s in symbols), dtype=np.int64, count=len(symbols))
        self._keys, self._lens = keys, lens
        codes = np.arange(len(symbols), dtype=np.int32)
        s1 = lens[: len(symbols)] == 1
        self._lut1[(keys[: len(symbols)][s1] >> U64(56)).astype(np.int64)] = codes[s1]
        s2 = lens[: len(symbols)] == 2
        self._lut2[(keys[: len(symbols)][s2] >> U64(48)).astype(np.int64)] = codes[s2]
        long = lens >= 3
        # nonzero length/key ONLY for len>=3 symbols
        self._h3len = np.where(long, lens, 0)
        self._h3key = np.where(long, keys, U64(0))
        s3 = long[: len(symbols)]
        key3 = (keys[: len(symbols)][s3] >> U64(40)).astype(np.uint32)
        slots = ((key3 * _H3_MULT) >> np.uint32(32 - _H3_BITS)).astype(np.int64)
        # first symbol (highest gain) claims a contested slot: reversed
        # scatter makes the earliest write the surviving one
        self._h3code[slots[::-1]] = codes[s3][::-1]

    def match_packed(self, data: np.ndarray) -> np.ndarray:
        """Vectorized longest-match: per position, one int32
        ``(code << 4) | match_len``; 0 => escape (2 output bytes for 1
        input byte).  One array and one masked scatter per priority
        class — the split (mlen, mcode) pair paid double the write
        traffic."""
        n = len(data)
        m = np.zeros(n, dtype=np.int32)
        if n == 0:
            return m
        # 1-byte LUT (weakest priority — assigned first, overwritten later)
        c1 = self._lut1[data]
        h1 = c1 >= 0
        m[h1] = (c1[h1] << np.int32(4)) | np.int32(1)
        key3 = None
        if n >= 3 and len(self.symbols):
            key3 = ((data[:-2].astype(np.uint32) << np.uint32(16))
                    | (data[1:-1].astype(np.uint32) << np.uint32(8))
                    | data[2:])
        # 2-byte LUT — the prefix is the top 16 bits of key3 when that
        # was already built (saves the int32 shift/or passes)
        if n >= 2:
            if key3 is not None:
                c2 = self._lut2[key3 >> np.uint32(8)]
                last2 = (np.uint32(data[-2]) << np.uint32(8)) | data[-1]
                c2 = np.concatenate((c2, self._lut2[[last2]]))
            else:
                d32 = data.astype(np.int32)
                c2 = self._lut2[(d32[:-1] << np.int32(8)) | d32[1:]]
            h2 = c2 >= 0
            m[:-1][h2] = (c2[h2] << np.int32(4)) | np.int32(2)
        # len>=3: one hash probe per position
        if key3 is not None:
            slot = (key3 * _H3_MULT) >> np.uint32(32 - _H3_BITS)
            c3 = self._h3code[slot]
            cand = np.nonzero(c3 >= 0)[0]
            if len(cand):
                cc = c3[cand].astype(np.int64)
                ln3 = self._h3len[cc]
                # full 8-byte keys only at candidate positions: the
                # all-positions key build moved 8n bytes for a (usually)
                # much smaller verified set
                padded = np.zeros(n + MAX_LEN, dtype=np.uint8)
                padded[:n] = data
                from numpy.lib.stride_tricks import sliding_window_view
                fk = np.ascontiguousarray(
                    sliding_window_view(padded, MAX_LEN)[cand]) \
                    .view(">u8").ravel().astype(U64, copy=False)
                shift = (np.int64(8) * (np.int64(MAX_LEN) - ln3)).astype(U64)
                hit = ((fk >> shift) << shift == self._h3key[cc]) \
                    & (cand + ln3 <= n)
                ph = cand[hit]
                m[ph] = ((cc[hit] << np.int64(4)) | ln3[hit]).astype(np.int32)
        return m

    def match_tables(self, data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(match_len, code) pair view of `match_packed` (kept for tests
        and external callers)."""
        m = self.match_packed(data)
        return m & np.int32(15), m >> np.int32(4)

    def to_bytes(self) -> bytes:
        out = bytearray()
        out.append(len(self.symbols))
        out.extend(len(s) for s in self.symbols)
        for s in self.symbols:
            out.extend(s)
        return bytes(out)

    @classmethod
    def from_buffer(cls, buf, pos: int) -> tuple["SymbolTable", int]:
        n = buf[pos]
        pos += 1
        lens = bytes(buf[pos: pos + n])
        pos += n
        syms = []
        for ln in lens:
            syms.append(bytes(buf[pos: pos + ln]))
            pos += ln
        return cls(syms), pos


def _chain(mlen: np.ndarray) -> np.ndarray:
    """Visited positions of the greedy parse (jump-pointer enumeration;
    see `_parse`)."""
    n = len(mlen)
    it = np.int32 if n < 2**31 - MAX_LEN else np.int64
    step = np.maximum(mlen, 1).astype(it, copy=False)
    nxt = np.arange(n, dtype=it) + step
    np.minimum(nxt, it(n), out=nxt)
    nxt_ext = np.concatenate((nxt, np.array([n], dtype=it)))

    # adaptive block, capped low: each doubling of BLOCK costs one FULL
    # composition gather over n (the dominant traffic), while the scalar
    # start walk it saves only touches ~0.2n/BLOCK positions — measured
    # fastest around 2^5 on 1.5MB text, and small caps also avoid the
    # fixed gather overhead on the tiny training samples
    logb = min(max((n.bit_length() + 1) // 2, 4), 5)
    BLOCK = 1 << logb
    J = nxt_ext
    for _ in range(logb):  # 2^logb = BLOCK codes per jump
        J = J[J]
    starts = [0]
    b = int(J[0])
    while b < n:
        starts.append(b)
        b = int(J[b])
    S = np.array(starts, dtype=it)
    P = np.empty((BLOCK, len(S)), dtype=it)
    P[0] = S
    for s in range(1, BLOCK):
        P[s] = nxt_ext[P[s - 1]]
    chain = P.T.ravel()
    return chain[chain < n]  # sentinel-clipped tail of the last block


def _parse(data: np.ndarray, table: SymbolTable) -> np.ndarray:
    """Greedy left-to-right parse, fully vectorized.

    The greedy parse is a walk of the functional graph
    ``i -> i + max(match_len(i), 1)``; every jump target is computed for
    every position by ``match_tables`` up front, so the visited chain
    can be enumerated without a per-code Python loop:

    1. compose the jump array with itself 10 times -> J jumps 1024
       codes at once; walk J from 0 for the ~V/1024 block starts
       (a tiny scalar loop),
    2. expand all blocks in lockstep: 1024 numpy gathers, each over
       #blocks positions (total work = V gathers, vectorized),
    3. emit codes/escapes for the visited positions with masked
       scatters.

    Byte-identical to the sequential greedy parse; ~50x faster."""
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    m = table.match_packed(data)
    chain = _chain(m & np.int32(15))
    mc = m[chain]  # packed (code, len) gathered once at chain positions
    esc = mc == 0
    out_sz = np.where(esc, 2, 1)
    offs = np.zeros(len(chain) + 1, dtype=np.int64)
    np.cumsum(out_sz, out=offs[1:])
    out = np.empty(int(offs[-1]), dtype=np.uint8)
    pos0 = offs[:-1]
    out[pos0[~esc]] = (mc[~esc] >> np.int32(4)).astype(np.uint8)
    out[pos0[esc]] = ESCAPE
    out[pos0[esc] + 1] = data[chain[esc]]
    return out


def train(data: np.ndarray, iterations: int = 4,
          sample_bytes: int = 1 << 14) -> SymbolTable:
    """Iterative symbol-table construction on a bounded sample (paper §3).

    Each iteration parses the sample with the current table (chain
    enumeration, no per-code Python), then counts symbols and adjacent
    concatenations with integer-key bincount/unique — byte strings are
    materialized only for the few hundred distinct candidates."""
    sample = data[:sample_bytes]
    table = SymbolTable([])
    for _ in range(iterations):
        m = table.match_packed(sample)
        chain = _chain(m & np.int32(15))
        mc = m[chain]
        ml = mc & np.int32(15)
        # symbol identity per parsed token: code, or 256+byte for escapes
        sym_id = np.where(ml > 0, (mc >> np.int32(4)).astype(np.int64),
                          256 + sample[chain].astype(np.int64))
        nsym = len(table.symbols)
        # per-id length and left-aligned u64 byte key (ids 0..255 =
        # codes, 256..511 = escape bytes); a counted pair concatenates
        # to <= MAX_LEN == 8 bytes, so every candidate's BYTES fit one
        # u64 key — merging and ranking stay entirely in numpy
        id_len = np.zeros(512, dtype=np.int64)
        id_len[:nsym] = table._lens[:nsym]
        id_len[256:] = 1
        id_key = np.zeros(512, dtype=U64)
        id_key[:nsym] = table._keys[:nsym]
        id_key[256:] = np.arange(256, dtype=U64) << U64(56)

        ids, cnt = np.unique(sym_id, return_counts=True)
        keys = [id_key[ids]]
        lens = [id_len[ids]]
        cnts = [cnt]
        if len(sym_id) > 1:
            a, b = sym_id[:-1], sym_id[1:]
            ok = id_len[a] + id_len[b] <= MAX_LEN
            pk = a[ok] * 512 + b[ok]
            pids, pcnt = np.unique(pk, return_counts=True)
            pa, pb = pids // 512, pids % 512
            la = id_len[pa]
            keys.append(id_key[pa] | (id_key[pb] >> (la.astype(U64) * U64(8))))
            lens.append(la + id_len[pb])
            cnts.append(pcnt)
        k = np.concatenate(keys)
        ln = np.concatenate(lens)
        c = np.concatenate(cnts)
        # merge candidates with identical bytes — identity is (key, len):
        # a key's trailing zero padding is ambiguous between b"x" and
        # b"x\x00", so length disambiguates
        order = np.lexsort((ln, k))
        k, ln, c = k[order], ln[order], c[order]
        first = np.empty(len(k), dtype=bool)
        if len(k):
            first[0] = True
            np.logical_or(k[1:] != k[:-1], ln[1:] != ln[:-1], out=first[1:])
        starts = np.nonzero(first)[0]
        mk, ml = k[starts], ln[starts]
        mc_ = np.add.reduceat(c, starts) if len(starts) else c
        # rank by (-gain, bytes): lexicographic byte order of <=8-byte
        # strings equals numeric order of the left-aligned key, with
        # length breaking the prefix/padding tie (shorter first)
        top = np.lexsort((ml, mk, -(mc_ * ml)))[:MAX_SYMBOLS]
        table = SymbolTable([int(mk[i]).to_bytes(MAX_LEN, "big")[: ml[i]]
                             for i in top.tolist()])
    return table


fsst_train = train  # public alias (table reuse across probe + full encode)


def fsst_compress_with(data: np.ndarray, table: SymbolTable) -> bytes:
    """Compress with an already-trained table (identical bytes to
    `fsst_compress` when the table came from `train` on the same data —
    the table is self-describing, so callers may reuse one table for a
    cheap probe estimate AND the full encode without retraining)."""
    codes = _parse(data, table)
    out = bytearray()
    out += table.to_bytes()
    write_varint(out, len(codes))
    out += codes.tobytes()
    return bytes(out)


def fsst_compress(blob: bytes, iterations: int = 4) -> bytes:
    data = np.frombuffer(blob, dtype=np.uint8)
    return fsst_compress_with(data, train(data, iterations))


def fsst_decompress(buf) -> bytes:
    buf = memoryview(buf)
    table, pos = SymbolTable.from_buffer(buf, 0)
    n_codes, pos = read_varint(buf, pos)
    codes = np.frombuffer(buf, dtype=np.uint8, count=n_codes, offset=pos)
    nsym = len(table.symbols)
    # (nsym+1, 8) byte matrix; row nsym reserved for escaped literals
    mat = np.zeros((nsym + 1, MAX_LEN), dtype=np.uint8)
    lens = np.zeros(nsym + 1, dtype=np.int64)
    for c, s in enumerate(table.symbols):
        mat[c, : len(s)] = np.frombuffer(s, dtype=np.uint8)
        lens[c] = len(s)
    lens[nsym] = 1

    # Escape detection must respect parity: a literal byte 0xFF following
    # an escape is NOT itself an escape.  Within each maximal run of 0xFF
    # codes, escapes sit at even offsets (run start is never a literal
    # slot: the preceding escape, if any, would be part of the run).
    is255 = codes == ESCAPE
    nc = len(codes)
    idx = np.arange(nc, dtype=np.int64)
    run_start = is255 & np.concatenate(([True], ~is255[:-1]))
    start_pos = np.maximum.accumulate(np.where(run_start, idx, -1))
    esc = is255 & ((idx - start_pos) % 2 == 0)
    lit_pos = np.nonzero(esc)[0] + 1
    if len(lit_pos) and lit_pos[-1] >= nc:
        raise ValueError("truncated FSST stream: escape at end of codes")
    keep = np.ones(nc, dtype=bool)
    keep[lit_pos] = False
    eff_codes = np.where(esc, nsym, codes)[keep].astype(np.int64)
    literals = codes[lit_pos]
    mat[nsym, 0] = 0  # placeholder; literals filled after expansion

    out_lens = lens[eff_codes]
    total = int(out_lens.sum())
    # expand: for each effective code, take lens[c] bytes of mat[c]
    starts = np.zeros(len(eff_codes), dtype=np.int64)
    np.cumsum(out_lens[:-1], out=starts[1:])
    pos_in = np.arange(total, dtype=np.int64) - np.repeat(starts, out_lens)
    out = mat[np.repeat(eff_codes, out_lens), pos_in]
    # escaped literal positions are exactly the rows where eff_codes==nsym
    lit_rows = np.nonzero(eff_codes == nsym)[0]
    out[starts[lit_rows]] = literals
    return out.tobytes()
