"""Benchmark inputs: the F0 fixture and a seeded Zipf token corpus.

Both produce the tokens-table shape the engine is built for
(``doc_id: string, tokens: list<int32>, n_tok: int32, source: string``)
and both are pure functions of their arguments, so every token can be
re-derived from its ``doc_id`` alone. That is what lets a decoded part be
checked bit for bit without keeping the source in memory.

The Zipf corpus exists because the F0 fixture flatters LZ: every fixture
regime walks one of a few global arithmetic cycles, so zstd finds repeats
across docs that real tokenizer output does not have. Here each token id
is an independent draw from a Zipf(1.1) law over a 128,256-entry vocabulary
(17-bit ids), keyed by a hash of ``(seed, doc_id, j)``: no subsequence is
shared across docs. Row lengths come from ``synth.n_tok_of``, so the
length mix (16..255 plus a 2048-token row every 97 docs) matches the
fixture.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from zseq import synth

VOCAB = 128_256
ZIPF_S = 1.1
_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xBF58476D1CE4E5B9)
_M3 = np.uint64(0x94D049BB133111EB)
_GUIDE_BITS = 20


@functools.cache
def _zipf_cdf() -> tuple[np.ndarray, np.ndarray]:
    """(cdf, guide): guide[k] is the first rank whose cdf exceeds
    k / 2^20, so the inverse CDF of u starts its search there. Read-only
    once built."""
    w = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    grid = np.arange(1 << _GUIDE_BITS) / float(1 << _GUIDE_BITS)
    return cdf, np.searchsorted(cdf, grid, side="right")


def _zipf_ranks(h: np.ndarray) -> np.ndarray:
    """Exact ``searchsorted(cdf, u, side='right')`` for u = the top 53
    bits of ``h``: a guide-table start, then a few vectorized steps over
    the (tail) draws whose bucket spans several ranks."""
    cdf, guide = _zipf_cdf()
    u = (h >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))
    r = guide[(h >> np.uint64(64 - _GUIDE_BITS)).astype(np.int64)]
    todo = np.flatnonzero(cdf[r] <= u)
    while todo.size:
        r[todo] += 1
        todo = todo[cdf[r[todo]] <= u[todo]]
    return r


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (wrapping uint64 arithmetic)."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M2
    x = x ^ (x >> np.uint64(27))
    x = x * _M3
    return x ^ (x >> np.uint64(31))


def zipf_flat(seed: int, doc_ids: np.ndarray, n_tok: np.ndarray) -> np.ndarray:
    """All docs' tokens concatenated: token j of doc d is the Zipf
    inverse-CDF of a hash of (seed, d, j)."""
    ids = doc_ids.astype(np.uint64)
    total = int(n_tok.sum())
    offsets = np.zeros(ids.size + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    j = (np.arange(total, dtype=np.int64)
         - np.repeat(offsets[:-1], n_tok)).astype(np.uint64)
    with np.errstate(over="ignore"):
        key = _mix64(np.uint64(seed) * _M1 + np.uint64(1))
        h = _mix64(np.repeat(_mix64(ids * _M1 + key), n_tok) + j * _M1)
    return _zipf_ranks(h).astype(np.int32)


def flat_tokens(corpus: str, seed: int, doc_ids: np.ndarray,
                n_tok: np.ndarray) -> np.ndarray:
    if corpus == "fixture":
        return synth.flat_tokens(doc_ids, n_tok)
    return zipf_flat(seed, doc_ids, n_tok)


def make_table(corpus: str, seed: int, start: int, n_docs: int) -> pa.Table:
    """Docs [start, start + n_docs) of the corpus as an Arrow table."""
    if corpus == "fixture":
        return synth.tokens_table_arrow(n_docs, start=start)
    ids = np.arange(start, start + n_docs, dtype=np.int64)
    n_tok = synth.n_tok_of(ids)
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offs.astype(np.int32), type=pa.int32()),
        pa.array(zipf_flat(seed, ids, n_tok), type=pa.int32()))
    return pa.table({
        "doc_id": pa.array(synth.doc_id_str(ids)),
        "tokens": tokens,
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array([synth.SOURCES[int(d % 5)] for d in ids]),
    })


def checksums(tbl: pa.Table) -> dict:
    """The aggregates every timed read is checked against: row count,
    sum(n_tok), and the sums of each doc's first and last token."""
    tok = tbl.column("tokens").combine_chunks()
    offs = tok.offsets.to_numpy().astype(np.int64)
    flat = tok.values.to_numpy().astype(np.int64)
    nz = offs[1:] > offs[:-1]
    return {"rows": tbl.num_rows,
            "tokens": int(offs[-1] - offs[0]),
            "first": int(flat[offs[:-1][nz] - offs[0]].sum()),
            "last": int(flat[offs[1:][nz] - 1 - offs[0]].sum())}


def write_file(corpus: str, seed: int, start: int, n_docs: int,
               path: str) -> dict:
    """Generate one input file; returns its checksums."""
    tbl = make_table(corpus, seed, start, n_docs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)
    return checksums(tbl)


def doc_ids_of(doc_id: pa.Array) -> np.ndarray:
    """Invert ``synth.doc_id_str`` ('doc_%08d')."""
    return np.array([int(s[4:]) for s in doc_id.to_pylist()],
                    dtype=np.int64)


def verify_part(corpus: str, seed: int, path: str, crc32: int) -> dict:
    """Decode one committed part through ``zseqfile.ZseqReader`` (crc
    first) and compare every token array bit for bit with the array
    re-derived from its doc_id. Returns counts and mismatches."""
    from zseq.zseqfile import ZseqReader, check_crc

    with open(path, "rb") as f:
        buf = f.read()
    check_crc(buf, crc32, path)
    rows = bad = 0
    for b in ZseqReader(buf).batches():
        ids = doc_ids_of(b.column(b.schema.get_field_index("doc_id")))
        tok = b.column(b.schema.get_field_index("tokens"))
        n_tok = synth.n_tok_of(ids)
        got_len = np.diff(tok.offsets.to_numpy().astype(np.int64))
        want = flat_tokens(corpus, seed, ids, n_tok)
        got = tok.flatten().to_numpy(zero_copy_only=False)
        n_col = b.column(b.schema.get_field_index("n_tok")).to_numpy(
            zero_copy_only=False)
        if not (np.array_equal(got_len, n_tok)
                and np.array_equal(n_col, n_tok)
                and got.dtype == np.int32 and np.array_equal(got, want)):
            bad += b.num_rows
        rows += b.num_rows
    return {"rows": rows, "bad_rows": bad}
