"""Binary (string/bytes) column codecs.

A binary column is (lengths: int64[n], data: concatenated uint8) — the same
lengths+data decomposition as the reference's striped Binary column
(/root/reference/zbra-core/src/striped.rs:41-46). Encoded as a segment:

    tag: u8 | payload_len: u32 LE | payload

(the value count comes from context, like all zseq segments).

Codecs:
  BIN_RAW    lengths segment + raw bytes
  BIN_ZSTD   lengths segment + zstd-compressed bytes (the reference's only
             string codec, level 3 — compression.rs:34-41, binary.rs:302-313)
  BIN_DICT   distinct values as a nested BIN_* segment + int indices segment
  BIN_FSST   FSST symbol-table compression (codecs/fsst.py)
  BIN_CONST  every row identical

Selection is trial-based on a strided ~64 KiB sample: cheap, and far more
robust than closed-form size models for byte payloads.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst
from . import intcodecs as IC

T_BIN_RAW = 0x10
T_BIN_ZSTD = 0x11
T_BIN_DICT = 0x12
T_BIN_FSST = 0x13
T_BIN_CONST = 0x14

BIN_CODEC_NAMES = {
    T_BIN_RAW: "bin_raw",
    T_BIN_ZSTD: "bin_zstd",
    T_BIN_DICT: "bin_dict",
    T_BIN_FSST: "bin_fsst",
    T_BIN_CONST: "bin_const",
}

# Compression level: the reference default is 3, configurable 1-22
# (compression.rs:14-23 Zstd{level}, :34-41 default). The level is an
# encode-time knob only — zstd frames are self-describing, so decode
# never needs it (it is still recorded in the encode manifest).
ZSTD_LEVEL = 3
_zstd_codecs: dict[int, pa.Codec] = {}

SYMBOL_LEVEL = 1  # zstd_compress_symbols; frames decode at any level

SAMPLE_BYTES = 1 << 16
FSST_MAX_MEAN_LEN = 128.0


def validate_zstd_level(level: int | None) -> None:
    """The one range check every entry point shares (1-22 or None)."""
    if level is not None and not 1 <= int(level) <= 22:
        raise ValueError(f"zstd level must be in [1, 22]: {level}")


def set_zstd_level(level: int) -> None:
    """Set the module-wide zstd compression level (1-22). Called inside
    encode workers from the level captured in the job closure."""
    global ZSTD_LEVEL
    validate_zstd_level(level)
    if level is None:
        raise ValueError("zstd level must not be None")
    ZSTD_LEVEL = int(level)


def _zstd(level: int) -> pa.Codec:
    c = _zstd_codecs.get(level)
    if c is None:
        c = _zstd_codecs[level] = pa.Codec("zstd", compression_level=level)
    return c


def zstd_compress(data: bytes | np.ndarray) -> bytes:
    """zstd at ``ZSTD_LEVEL``. ``data`` is read in place through the buffer
    protocol (bytes, memoryview, C-contiguous ndarray): no staging copy."""
    if isinstance(data, np.ndarray) and not data.flags.c_contiguous:
        data = np.ascontiguousarray(data)
    return _zstd(ZSTD_LEVEL).compress(data, asbytes=True)


def zstd_compress_symbols(data: np.ndarray) -> bytes:
    """zstd at ``SYMBOL_LEVEL``, for streams of a few symbols whose
    order carries no repeats (``intcodecs``' width symbols): level 3's
    lazy matcher spends 5x level 1's time on short matches that cost
    more bytes than the Huffman-coded literals they replace (3.88M
    Zipf token widths: 0.532 against 0.510 B/symbol, entropy 0.508)."""
    return _zstd(SYMBOL_LEVEL).compress(data, asbytes=True)


def zstd_decompress(data, raw_size: int) -> bytes:
    """The one zstd decode of every segment kind (``bin_zstd``, the
    ``zstd_wrap`` int segment, the width-symbol stream). A corrupt frame
    raises the codecs' strict-decode ``ValueError``, not pyarrow's
    ``OSError``."""
    # The bytes() copy stays: passing pa.py_buffer(data) and returning the
    # Arrow buffer measured slower for an 8 MB output (min 19.6 vs 16.3 ms,
    # result read once, 4-core Xeon VM), likely page faults on the fresh
    # Arrow-pool allocation.
    try:
        return _zstd(ZSTD_LEVEL).decompress(
            bytes(data), decompressed_size=raw_size, asbytes=True)
    except OSError as e:  # pyarrow's corrupt-frame error
        raise ValueError(f"zstd: corrupt frame ({e})") from e


def _seg(tag: int, payload: bytes) -> bytes:
    return IC.HEADER.pack(
        tag, IC.u32_len(len(payload), "segment payload length")) + payload


def _offsets(lengths: np.ndarray) -> np.ndarray:
    out = np.zeros(lengths.size + 1, dtype=np.int64)
    np.cumsum(lengths, out=out[1:])
    return out


# ---------------------------------------------------------------------------
# Encoders
# ---------------------------------------------------------------------------

def _enc_raw(lengths: np.ndarray, data: np.ndarray) -> bytes:
    return IC.encode_ints(lengths) + data.tobytes()


def _enc_zstd(lengths: np.ndarray, data: np.ndarray) -> bytes:
    comp = zstd_compress(data)
    return (
        IC.encode_ints(lengths)
        + struct.pack("<Q", data.size)
        + comp
    )


def _enc_fsst(lengths: np.ndarray, data: np.ndarray) -> bytes:
    return fsst.compress(data, _offsets(lengths))


def _enc_const(lengths: np.ndarray, data: np.ndarray) -> bytes:
    L = int(lengths[0])
    return struct.pack("<I", IC.u32_len(L, "const value length")) \
        + data[:L].tobytes()


def _enc_dict(lengths: np.ndarray, data: np.ndarray) -> bytes:
    # pyarrow's dictionary_encode does the heavy lifting; build the Arrow
    # binary array zero-copy from (offsets, data) buffers.
    offs = _offsets(lengths)
    arr = pa.Array.from_buffers(
        pa.large_binary(), lengths.size,
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data.tobytes())],
    )
    denc = arr.dictionary_encode()
    dvals = denc.dictionary
    idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_vals = dvals.to_pylist()
    dict_blob = b"".join(dict_vals)
    dlens = np.array([len(v) for v in dict_vals], dtype=np.int64)
    card = struct.pack("<I", IC.u32_len(dlens.size, "dict cardinality"))
    dbuf = np.frombuffer(dict_blob, dtype=np.uint8)
    sub_tag = select_bin_codec(dlens, dbuf)
    if sub_tag == T_BIN_DICT:  # no recursive dictionaries
        sub_tag = T_BIN_ZSTD
    dict_seg = encode_binary(dlens, dbuf, codec=sub_tag)
    idx_seg = IC.encode_ints(idx, exclude=frozenset({IC.T_DICT}))
    return card + dict_seg + idx_seg


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

_ENCODERS = {
    T_BIN_RAW: _enc_raw,
    T_BIN_ZSTD: _enc_zstd,
    T_BIN_DICT: _enc_dict,
    T_BIN_FSST: _enc_fsst,
    T_BIN_CONST: _enc_const,
}


def encode_binary(lengths: np.ndarray, data: np.ndarray,
                  codec: int | None = None) -> bytes:
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    data = np.ascontiguousarray(data, dtype=np.uint8)
    n = lengths.size
    if n == 0:
        return _seg(T_BIN_RAW, b"")
    if codec is None:
        if int(lengths.sum()) + 8 * n < 4096:
            # Tiny column: exact trial of every candidate is ~free and
            # sampling-based estimates are least reliable here.
            cands = [T_BIN_RAW, T_BIN_ZSTD, T_BIN_DICT]
            segs = [
                _seg(c, _ENCODERS[c](lengths, data)) for c in cands
            ]
            return min(segs, key=len)
        codec = select_bin_codec(lengths, data)
    return _seg(codec, _ENCODERS[codec](lengths, data))


def decode_binary(buf, offset: int, count: int) -> tuple[np.ndarray, np.ndarray, int]:
    """-> (lengths int64, data uint8, next offset)."""
    mv = memoryview(buf)
    tag, plen = IC.HEADER.unpack_from(mv, offset)
    start = offset + IC.HEADER.size
    end = start + plen
    if end > len(mv):
        raise ValueError("bin segment: truncated payload")
    payload = mv[start:end]
    if count == 0:
        if plen:
            raise ValueError("bin segment: payload for zero values")
        return np.zeros(0, np.int64), np.zeros(0, np.uint8), end

    if tag == T_BIN_RAW:
        lengths, pos = IC.decode_ints(payload, 0, count)
        data = np.frombuffer(payload[pos:], dtype=np.uint8)
        if data.size != int(lengths.sum()):
            raise ValueError("bin_raw: data size mismatch")
        return lengths, data.copy(), end
    if tag == T_BIN_ZSTD:
        lengths, pos = IC.decode_ints(payload, 0, count)
        (raw_size,) = struct.unpack_from("<Q", payload, pos)
        pos += 8
        comp = payload[pos:]
        raw = zstd_decompress(comp, raw_size)
        data = np.frombuffer(raw, dtype=np.uint8)
        if data.size != int(lengths.sum()):
            raise ValueError("bin_zstd: data size mismatch")
        return lengths, data, end
    if tag == T_BIN_DICT:
        (card,) = struct.unpack_from("<I", payload, 0)
        dlens, dbuf, pos = decode_binary(payload, 4, card)
        idx, pos = IC.decode_ints(payload, pos, count)
        if pos != plen:
            raise ValueError("bin_dict: trailing payload bytes")
        if idx.size and (idx.min() < 0 or idx.max() >= dlens.size):
            raise ValueError("bin_dict: index out of range")
        doffs = _offsets(dlens)
        lengths = dlens[idx]
        out = np.empty(int(lengths.sum()), dtype=np.uint8)
        # Vectorized gather of variable-length slices: build flat source
        # positions via repeat + cumulative offsets.
        if out.size:
            starts = doffs[idx]
            out_offs = _offsets(lengths)
            # index arithmetic: for row i, copy dbuf[starts[i]:starts[i]+len]
            reps = np.repeat(starts - out_offs[:-1], lengths)
            flat = np.arange(out.size, dtype=np.int64) + reps
            out = dbuf[flat]
        return lengths, out, end
    if tag == T_BIN_FSST:
        data, lengths = fsst.decompress(payload, count)
        return lengths, data, end
    if tag == T_BIN_CONST:
        if len(payload) < 4:
            raise ValueError("bin_const: truncated header")
        (L,) = struct.unpack_from("<I", payload, 0)
        if len(payload) != 4 + L:
            # strict decode: a truncated value would otherwise return
            # lengths inconsistent with the data buffer (offsets past
            # the end downstream); trailing junk must refuse too
            raise ValueError("bin_const: payload size mismatch")
        val = np.frombuffer(payload[4 : 4 + L], dtype=np.uint8)
        lengths = np.full(count, L, dtype=np.int64)
        return lengths, np.tile(val, count), end
    raise ValueError(f"unknown binary codec tag 0x{tag:02x}")


# ---------------------------------------------------------------------------
# Selection — trial-based on a strided sample
# ---------------------------------------------------------------------------

def _window_ratio(offs: np.ndarray, data: np.ndarray, m: int) -> float:
    """zstd's output over its input on 8 evenly spaced windows of
    ``m // 8`` whole values each, laid out as ``select.int_stats`` lays
    its windows: contiguous runs keep the locality a strided sample
    destroys."""
    n = offs.size - 1
    k = max(1, m // 8)
    nwin = min(8, max(1, n // k))
    starts = (n - k) * np.arange(nwin) // max(1, nwin - 1)
    win = np.concatenate([data[offs[i]:offs[i + k]] for i in starts])
    return len(zstd_compress(win)) / max(1, win.size)


def select_bin_codec(lengths: np.ndarray, data: np.ndarray) -> int:
    n = lengths.size
    if n == 0:
        return T_BIN_RAW
    total = int(lengths.sum())
    mean_len = total / n
    offs = _offsets(lengths)
    # Strided sample of whole values, gathered by Arrow's take and kept
    # an Arrow array: its count of distinct values, its bytes (one slice
    # of the taken data buffer) and its lengths (from the offsets) need
    # no per-value Python objects.
    want = max(64, int(SAMPLE_BYTES / max(1.0, mean_len)))
    step = max(1, n // want)
    arr = pa.Array.from_buffers(
        pa.large_binary(), n,
        [None, pa.py_buffer(np.ascontiguousarray(offs)),
         pa.py_buffer(np.ascontiguousarray(data))])
    sample = arr.take(pa.array(np.arange(0, n, step)))
    m = len(sample)
    distinct = pc.count_distinct(sample).as_py()
    if distinct == 1 and step == 1:
        return T_BIN_CONST
    soffs = np.frombuffer(sample.buffers()[1], np.int64, m + 1)
    sdata = np.frombuffer(sample.buffers()[2] or b"", np.uint8)[
        soffs[0]:soffs[-1]]
    sample_bytes = max(1, sdata.size)

    est: dict[int, float] = {}
    # lengths segment cost (shared by raw/zstd) — estimate via mean 1B/val.
    lens_cost = n * 0.5 + 26
    est[T_BIN_RAW] = total + lens_cost
    comp = zstd_compress(sdata)
    est[T_BIN_ZSTD] = len(comp) / sample_bytes * total + lens_cost + 16
    if distinct < 0.5 * m:
        card = distinct / m * n if distinct > 1 else distinct
        dict_bytes = distinct / m * total  # sample's share of distinct data
        idx_bits = max(1, int(np.ceil(np.log2(max(2.0, card)))))
        est[T_BIN_DICT] = (
            min(dict_bytes, total) * 0.7 + n * idx_bits / 8.0 + 64
        )
    # FSST trial costs a table build (~0.1 s); skip when zstd already
    # compresses the sample below what FSST ever reaches on short strings
    # (~3-6x), or when strings are long (zstd's home turf).
    zstd_ratio = est[T_BIN_ZSTD] / max(1.0, float(total))
    if mean_len <= FSST_MAX_MEAN_LEN and total >= 1024 and zstd_ratio > 0.22:
        # Nor when even FSST's floor loses: a code covers at most 8 bytes
        # and never spans strings, so a string of L bytes takes at least
        # ceil(L / 8) codes, and the table is at least 1 byte. The
        # estimate below is never under this floor (same association, so
        # float rounding keeps the order), and a floor that loses to the
        # other estimates rules FSST out with no change of choice. The
        # floor must also beat zstd's estimate from contiguous windows
        # (``_window_ratio``), which the choice itself does not use: the
        # strided sample splits clustered ids apart and overstates zstd's
        # output (fixture doc_id blocks: 0.168 strided, 0.106 in windows,
        # 0.095 whole), so 12-byte ids, whose floor is 2/12, build no
        # table.
        lo = int(((np.diff(soffs) + 7) // 8).sum()) / sample_bytes
        floor = lo * total + 1 + n * 0.5 + 40
        if floor < min(est.values()) and (
                step == 1 or floor < _window_ratio(offs, data, m)
                * total + lens_cost + 16):
            # build_table reads values until BUILD_SAMPLE_BYTES of them:
            # only those become Python bytes
            k = int(np.searchsorted(soffs[:-1] - soffs[0],
                                    fsst.BUILD_SAMPLE_BYTES))
            table = fsst.build_table(sample.slice(0, k).to_pylist())
            enc, _ = fsst.encode_column(sdata, soffs - soffs[0], table)
            ratio = enc.size / sample_bytes
            est[T_BIN_FSST] = (ratio * total + len(table.serialize())
                               + n * 0.5 + 40)
    return min(est, key=est.__getitem__)
