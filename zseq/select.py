"""Per-column codec auto-selection from sampled statistics.

Implements, for real, the adaptive-compression design the reference only
documents as FUTURE (/root/reference/docs/design.md:255-302: "Analysis
Phase: sample first N values", DataPattern::{Sequential, Random, Repetitive,
Sparse, TimeSeries}): sample up to SAMPLE values of a column chunk, derive
{cardinality ratio, mean run length, sortedness, delta bits, range bits},
score each codec's *predicted* encoded size in bytes, and pick the minimum.

Prediction is deliberately cheap (no trial encodes of the full chunk) so the
selector adds O(SAMPLE) work per chunk regardless of chunk size — the right
trade at 10^12-sequence scale where chunks are millions of values. The
width-symbol codec (intcodecs T_WSYM) is scored the same way, for
top-level chunks only: its estimate (``wsym_bits``: mean mantissa bits
plus the symbols' order-0 entropy on the strided sample) must beat the
winner's predicted size, scaled by the zstd ratio of the winner's
encoding of the first SAMPLE values, by the margin ``WSYM_MARGIN``.
Chunks LZ compresses well (the fixture's repeated runs) keep their
codec; skewed ids without repeats (Zipf token streams) take T_WSYM, and
only its segment is built. The full-chunk trials are downstream of
selection, in ``intcodecs``, and a sample orders them before anything
is built: for a bit-packed chunk, zstd of a sample of whole minis (the
whole chunk, up to 64 minis) predicts the wrap of each layout that shows
zstd the repeats bit-packing hides, the values re-packed at the next
byte width (repeats shifted to other bit phases) and FORBP (runs
repeated up to an additive constant, which its per-mini minimum
cancels). A PACK tries those layouts in predicted order, each zstd'd
whole, and its own wrap only where the sample predicts it passes; a
FORBP tries the re-pack first only where the sample predicts it wins.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .codecs import bytescodecs as BC
from .codecs import intcodecs as IC
from .codecs import primitives as P

SAMPLE = 8192
# The width-symbol codec (intcodecs T_WSYM) is chosen only when predicted
# at most this fraction of the best other codec's size: its decode (zstd
# plus a per-value gather) costs about what a zstd_wrap decode costs and
# several times a bare PACK/FORBP unpack, so a near tie keeps the other.
WSYM_MARGIN = 0.9
# Bytes of a width-symbol segment that do not scale with the values:
# segment header, lo/hi/length head, and a zstd frame's own overhead.
_WSYM_FIXED = IC.HEADER.size + IC._WSYM_HEAD.size + 9


def _sample(arr: np.ndarray) -> np.ndarray:
    """Up to SAMPLE values strided over the whole chunk (head-only
    sampling misses regime changes mid-chunk)."""
    return arr[::max(1, arr.size // SAMPLE)][:SAMPLE]


@dataclass
class IntStats:
    n: int
    card_ratio: float       # unique/sampled on the sample
    mean_run: float          # mean run length on the sample
    sorted_frac: float       # fraction of non-negative successive deltas
    range_bits: int          # bits of (max - min) over the FULL chunk
    delta_bits: int          # bits of max |successive delta| (zig-zag domain)
    vmin: int
    vmax: int
    mini_bits: float         # mean per-mini-block width (contiguous windows)


def int_stats(arr: np.ndarray) -> IntStats:
    n = arr.size
    s = _sample(arr)
    m = s.size
    # Full-chunk min/max are cheap and make range_bits exact — a sampled
    # max would under-size bit widths.
    vmin, vmax = int(arr.min()), int(arr.max())
    rng = (vmax - vmin) & ((1 << 64) - 1)
    range_bits = rng.bit_length() if rng else 0
    uniq = np.unique(s)
    card_ratio = uniq.size / m
    # Delta/run/sortedness statistics come from CONTIGUOUS windows, not
    # the strided sample: step-apart differences are blind to adjacent
    # oscillation (a ±1e6 alternation with period under the stride reads
    # as tiny smooth deltas and makes DELTA's predicted size a fantasy),
    # and runs shorter than the stride vanish the same way. The windows
    # also feed mini_bits — FORBP's per-mini width adaptivity estimate —
    # since the strided sample destroys exactly the locality that makes
    # mini-blocks narrow.
    win = min(IC.MINI, n)
    nwin = min(8, max(1, n // win))
    bits = []
    d_nonzero = d_nonneg = d_count = 0
    delta_bits = 0
    for i in range(nwin):
        start = (n - win) * i // max(1, nwin - 1) if nwin > 1 else 0
        w = arr[start : start + win]
        r = (int(w.max()) - int(w.min())) & ((1 << 64) - 1)
        bits.append(r.bit_length())
        if w.size > 1:
            if w.dtype != np.int64:
                # narrow input: the delta statistics are defined in the
                # wrapping-int64 domain — widen the (tiny) window so an
                # int32 chunk yields bit-identical stats and selection
                w = w.astype(np.int64)
            with np.errstate(over="ignore"):
                d = np.diff(w)
            d_nonzero += int(np.count_nonzero(d))
            d_nonneg += int(np.count_nonzero(d >= 0))
            d_count += d.size
            zz = P.zigzag_encode(d)
            if zz.size:
                delta_bits = max(delta_bits,
                                 int(zz.max()).bit_length())
    if d_count:
        mean_run = (d_count + nwin) / (d_nonzero + nwin)
        sorted_frac = d_nonneg / d_count
    else:
        mean_run, sorted_frac = 1.0, 1.0
    mini_bits = float(np.mean(bits)) if bits else 0.0
    return IntStats(n, card_ratio, mean_run, sorted_frac,
                    range_bits, delta_bits, vmin, vmax, mini_bits)


def predict_int_sizes(st: IntStats) -> dict[int, float]:
    """Predicted encoded bytes per codec (segment header excluded — it is
    identical for all)."""
    n = st.n
    sizes: dict[int, float] = {}
    sizes[IC.T_RAW] = 8.0 * n
    if st.vmin == st.vmax:
        sizes[IC.T_CONST] = 8.0
    # PACK: whole-array min-FOR at range_bits width, 9B header, no cliff.
    sizes[IC.T_PACK] = 9 + n * st.range_bits / 8.0
    # FORBP: per-mini 9B header + sampled per-window width payload.
    nminis = (n + IC.MINI - 1) // IC.MINI
    sizes[IC.T_FORBP] = 2 + 9.0 * nminis + n * st.mini_bits / 8.0
    # DELTA: 8B first + FORBP over zig-zag deltas at delta_bits width. Only
    # trustworthy when the sample looked (near-)monotonic or smooth.
    sizes[IC.T_DELTA] = 8 + 2 + 9.0 * nminis + n * st.delta_bits / 8.0
    # DICT: dictionary (card * ~8B, FORBP-packed so usually less) + indices
    # at log2(card) bits. Estimate card on full chunk from sample ratio,
    # capped: a sample with all-unique values predicts card == n.
    est_card = max(1.0, st.card_ratio * n if st.card_ratio < 0.99 else n)
    idx_bits = max(1, int(np.ceil(np.log2(est_card + 1))))
    sizes[IC.T_DICT] = (
        4 + 9.0 * nminis + est_card * max(1, st.range_bits) / 8.0
        + n * idx_bits / 8.0 + 26
    )
    # RLE: runs * (value bytes + length bytes). Length typically tiny.
    est_runs = max(1.0, n / st.mean_run)
    sizes[IC.T_RLE] = est_runs * (max(1, st.range_bits) / 8.0 + 1.0) + 52
    # The reference pipeline (T_ZBRA) is never auto-selected: PACK's
    # min-FOR dominates it (narrower-or-equal width, no zig-zag, smaller
    # header, no >=32-bit cliff). It remains available as a forced codec
    # for parity checks.
    return sizes


def wsym_bits(arr: np.ndarray, lo: int) -> float:
    """Predicted bits per value of the width-symbol codec on ``arr``
    (minimum ``lo``), from the strided sample: the mean mantissa width
    (k - 1 per symbol k) plus the order-0 entropy of the symbols, which
    zstd's literal coder approaches."""
    s = _sample(arr)
    udt = np.uint32 if s.dtype == np.int32 else np.uint64
    with np.errstate(over="ignore"):
        d = (s - s.dtype.type(lo)).view(udt)
    hist = np.bincount(IC._bit_lengths(d, int(d.max()).bit_length()),
                       minlength=2).astype(np.float64)
    mant = float(hist[2:] @ np.arange(1, hist.size - 1))
    p = hist[hist > 0] / s.size
    return mant / s.size - float(p @ np.log2(p))


def select_int_codec(arr: np.ndarray,
                     exclude: frozenset = frozenset()) -> int:
    n = arr.size
    if n == 0:
        return IC.T_RAW
    st = int_stats(arr)
    if st.vmin == st.vmax:
        return IC.T_CONST
    sizes = predict_int_sizes(st)
    for tag in exclude:
        sizes.pop(tag, None)
    # Gate unreliable predictions: DELTA's sampled delta_bits can miss huge
    # jumps between samples; only trust it when the sample is near-sorted
    # or deltas are genuinely narrow.
    if st.sorted_frac < 0.9 and st.delta_bits >= st.range_bits:
        sizes.pop(IC.T_DELTA, None)
    if st.mean_run < 1.3:
        sizes.pop(IC.T_RLE, None)
    if st.card_ratio > 0.5:
        sizes.pop(IC.T_DICT, None)
    best = min(sizes, key=sizes.__getitem__)
    if exclude:  # the width-symbol codec is never nested
        return best
    # It must beat ``best`` by the margin, zstd wrap included: the
    # O(SAMPLE) estimate gates the wrap's ratio on a prefix
    room = WSYM_MARGIN * sizes[best]
    wsym = n * wsym_bits(arr, st.vmin) / 8 + _WSYM_FIXED
    if wsym >= room:
        return best
    head = arr[:SAMPLE]
    if best not in IC._NARROW_OK:
        head = head.astype(np.int64)
    enc = IC._ENCODERS[best](head)
    ratio = len(BC.zstd_compress(enc)) / len(enc)
    return IC.T_WSYM if wsym < room * ratio else best


# Binary/string codec selection lives in codecs.bytescodecs
# (select_bin_codec) — sample-ratio trial gating directly on the data.
