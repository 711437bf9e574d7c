"""Seeded corpus generator owned by the benchmark.

The generator is independent of the program (it never calls
``orc_rust_spark.functions.tokens``), so a change to the program cannot
change a workload's inputs.  It is numpy + pyarrow in one process, and
vectorized by token shape: every doc gets one shape, each shape's
tokens are drawn as one flat array and scattered into doc order.

Every corpus carries a per-doc checksum (``doc_checksums``) that the
benchmark compares against what decode and lookup return.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = np.array(["web", "code", "books", "wiki"])
SOURCE_P = np.array([0.58, 0.22, 0.12, 0.08])

# shape ids
ZIPF, RUNS, RAMP, SMALL = 0, 1, 2, 3


@dataclass(frozen=True)
class CorpusSpec:
    """Doc-length and token-shape recipe of one workload's corpus.

    The seed moves which doc gets which length, shape and tokens; the
    doc count, the total token count and each shape's share of the
    tokens are fixed, so seeds differ in content, not in size or mix."""
    n_docs: int
    n_tokens: int                # exact total over all docs
    length: str                  # "lognormal" | "uniform"
    mu: float = 5.0              # lognormal parameters of the doc length
    sigma: float = 1.2
    lo: float = 1.0              # uniform doc length bounds, relative
    hi: float = 3.0
    max_len: int = 20_000        # cap of the lognormal body
    outliers_per_1000: int = 0   # docs of 100k-400k tokens
    shape_p: tuple = (0.6, 0.1, 0.1, 0.2)   # zipf, runs, ramps, small
    row_group_rows: int = 4096   # parquet row-group size of the input


@dataclass
class Corpus:
    table: pa.Table              # doc_id, tokens, n_tok, source
    checksums: np.ndarray        # uint64 per doc, in doc_id order
    n_tokens: int

    @property
    def payload_bytes(self) -> int:
        """int32 token payload, the numerator of every MB/s figure."""
        return 4 * self.n_tokens


_SLOTS = 20                          # shape pattern length
N_FILES = 4                          # parquet files of every input


def _lengths(rng: np.random.Generator, spec: CorpusSpec) -> np.ndarray:
    """Doc lengths summing to exactly ``spec.n_tokens``.  Outliers, evenly
    spaced over 100k-400k tokens, sit one per equal slice of the doc
    order (the seed picks the doc inside the slice), so every input file
    carries a similar token mass; the body is drawn from the length
    distribution and rescaled to the remaining tokens."""
    n = spec.n_docs
    if spec.length == "uniform":
        body = rng.uniform(spec.lo, spec.hi, n)
    else:
        body = np.minimum(rng.lognormal(spec.mu, spec.sigma, n), spec.max_len)
    lens = np.zeros(n, np.int64)
    n_out = n * spec.outliers_per_1000 // 1000
    if n_out:
        width = n // n_out
        out_at = np.arange(n_out) * width + rng.integers(0, width, n_out)
        sizes = np.linspace(100_000, 400_000, n_out).astype(np.int64)
        lens[out_at] = sizes[np.random.default_rng(n_out).permutation(n_out)]
    is_body = lens == 0
    left = spec.n_tokens - int(lens.sum())
    b = body[is_body]
    scaled = np.maximum((b * (left / b.sum())).astype(np.int64), 1)
    deficit = left - int(scaled.sum())
    if deficit < 0 or deficit > len(scaled):
        raise ValueError(f"cannot fit {spec.n_tokens} tokens in {n} docs")
    scaled[rng.permutation(len(scaled))[:deficit]] += 1
    lens[is_body] = scaled
    return lens


def _shapes(rng: np.random.Generator, lens: np.ndarray,
            shape_p) -> np.ndarray:
    """Shape per doc such that each shape holds a seed-independent share
    of the tokens: docs sorted by length (random tie-break) take shapes
    from a fixed interleaved pattern of ``_SLOTS`` slots."""
    counts = np.round(np.asarray(shape_p) * _SLOTS).astype(np.int64)
    if counts.sum() != _SLOTS:
        raise ValueError(f"shape_p must be multiples of 1/{_SLOTS}")
    pattern = np.repeat(np.arange(4), counts)
    pattern = pattern[np.random.default_rng(_SLOTS).permutation(_SLOTS)]
    order = np.lexsort((rng.random(len(lens)), lens))
    shapes = np.empty(len(lens), np.int64)
    shapes[order] = pattern[np.arange(len(lens)) % _SLOTS]
    return shapes


def _shape_tokens(rng: np.random.Generator, shape: int,
                  lens: np.ndarray) -> np.ndarray:
    """Flat tokens of all docs of one shape, docs laid end to end."""
    n = int(lens.sum())
    if n == 0:
        return np.empty(0, np.int32)
    if shape == ZIPF:
        return ((rng.zipf(1.3, n) - 1) % VOCAB).astype(np.int32)
    if shape == RUNS:
        # pad-token stretches: runs of 30-700 of one small value
        n_runs = n // 30 + 1
        reps = rng.integers(30, 701, n_runs)
        vals = rng.integers(0, 100, n_runs)
        return np.repeat(vals, reps)[:n].astype(np.int32)
    if shape == RAMP:
        # position-id-like ramps: per-doc start + step 1 or 2
        starts = np.repeat(np.cumsum(lens) - lens, lens)
        pos = np.arange(n, dtype=np.int64) - starts
        base = np.repeat(rng.integers(0, VOCAB // 2, len(lens)), lens)
        step = np.repeat(rng.integers(1, 3, len(lens)), lens)
        return ((base + pos * step) % (1 << 30)).astype(np.int32)
    # small values with 1% large outliers (patched-base shape)
    toks = rng.integers(0, 512, n)
    n_out = max(n // 100, 1)
    toks[rng.integers(0, n, n_out)] = rng.integers(VOCAB - 100, VOCAB, n_out)
    return toks.astype(np.int32)


def generate(spec: CorpusSpec, seed: int) -> Corpus:
    rng = np.random.default_rng(np.random.SeedSequence([seed, spec.n_docs]))
    lens = _lengths(rng, spec)
    shapes = _shapes(rng, lens, spec.shape_p)
    offsets = np.zeros(spec.n_docs + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.empty(int(offsets[-1]), np.int32)
    for shape in (ZIPF, RUNS, RAMP, SMALL):
        docs = np.flatnonzero(shapes == shape)
        if not len(docs):
            continue
        toks = _shape_tokens(rng, shape, lens[docs])
        # destination index of each generated token
        starts = np.repeat(offsets[docs] - (np.cumsum(lens[docs]) - lens[docs]),
                           lens[docs])
        flat[starts + np.arange(len(toks))] = toks
    sources = rng.choice(SOURCES, spec.n_docs, p=SOURCE_P)
    doc_ids = np.char.add("d", np.char.zfill(
        np.arange(spec.n_docs).astype(str), 9))
    table = pa.table({
        "doc_id": pa.array(doc_ids.tolist(), pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)),
                                           pa.array(flat)),
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(sources.tolist(), pa.string()),
    })
    return Corpus(table, doc_checksums(offsets, flat), int(offsets[-1]))


_K1 = np.uint64(0x9E3779B97F4A7C15)
_K2 = np.uint64(0xC2B2AE3D27D4EB4F)


def doc_checksums(offsets: np.ndarray, flat: np.ndarray) -> np.ndarray:
    """Order-sensitive uint64 checksum per doc from the list offsets and
    the flat int32 values: mixes the length, the sum and the
    position-weighted sum (wrapping uint64 arithmetic)."""
    offsets = np.asarray(offsets, np.int64)
    lens = np.diff(offsets)
    n = len(lens)
    out = lens.astype(np.uint64) * _K2
    if not len(flat) or not n:
        return out
    v = flat.astype(np.int64).view(np.uint64)
    pos = (np.arange(len(flat), dtype=np.int64)
           - np.repeat(offsets[:-1] - offsets[0], lens)).view(np.uint64)
    nz = lens > 0
    starts = (offsets[:-1] - offsets[0])[nz]
    with np.errstate(over="ignore"):
        s1 = np.add.reduceat(v, starts)
        s2 = np.add.reduceat(v * (pos + np.uint64(1)), starts)
        out[nz] += s1 * _K1 + s2
    return out


def batch_checksums(tokens: pa.Array) -> np.ndarray:
    """doc_checksums of an Arrow list<int32> column (any slice)."""
    if isinstance(tokens, pa.ChunkedArray):
        tokens = tokens.combine_chunks()
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    flat = tokens.values.to_numpy(zero_copy_only=False)[offsets[0]:offsets[-1]]
    return doc_checksums(offsets, flat)


def write_parquet(corpus: Corpus, spec: CorpusSpec, out_dir: str) -> list[str]:
    """Deterministic parquet input: ``N_FILES`` files of contiguous doc
    ranges (same seed, same bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    n = corpus.table.num_rows
    cuts = [n * i // N_FILES for i in range(N_FILES + 1)]
    paths = []
    for i in range(N_FILES):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(corpus.table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                       path, row_group_size=spec.row_group_rows,
                       compression="none", write_statistics=True)
        paths.append(path)
    return paths


def checksum_batches(batches):
    """mapInArrow body run by the Spark workers: (doc_id, h) per row,
    h being the row's doc checksum as a signed int64."""
    for b in batches:
        h = batch_checksums(b.column("tokens")).view(np.int64)
        yield pa.record_batch([b.column("doc_id"), pa.array(h)],
                              names=["doc_id", "h"])


def doc_index(doc_ids) -> np.ndarray:
    """Generator index of each ``d#########`` doc id; -1 for any other
    string."""
    import pyarrow.compute as pc
    ids = pa.chunked_array([doc_ids]) if isinstance(doc_ids, pa.Array) \
        else doc_ids
    ok = pc.fill_null(pc.match_substring_regex(ids, r"^d[0-9]{9}$"), False)
    digits = pc.if_else(ok, pc.utf8_slice_codeunits(ids, 1), "-1")
    return pc.cast(digits, pa.int64()).to_numpy()


def mismatched_docs(corpus: Corpus, doc_ids, h) -> int:
    """Generator docs not returned exactly once with their checksum,
    plus returned rows whose doc_id the generator never made."""
    n = len(corpus.checksums)
    idx = doc_index(doc_ids)
    h = np.asarray(h).view(np.uint64)
    known = (idx >= 0) & (idx < n)
    counts = np.bincount(idx[known], minlength=n)
    right = np.zeros(n, bool)
    right[idx[known]] = h[known] == corpus.checksums[idx[known]]
    return int(n - ((counts == 1) & right).sum() + (~known).sum())


def matches_all(corpus: Corpus, doc_ids, h) -> bool:
    """True when (doc_id, checksum) rows cover every doc exactly once
    and every checksum equals the generator's."""
    return mismatched_docs(corpus, doc_ids, h) == 0
