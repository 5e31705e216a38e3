"""Driver-side reimplementation of Spark's ``hash()`` (Murmur3_x86_32,
seed 42) — the function ``repartition(P, col)`` buckets rows with.

Why it exists: a ``mode='hash'`` dataset's manifest records
``partition_col`` and the bucket count ``P``, and every part's
``part_id`` IS its hash bucket (``zseq/encode.py`` hash mode:
``spark_partition_id`` after ``repartition(P, key)``). If the driver can
compute ``pmod(hash(v), P)`` for an equality literal, a point lookup
``key = v`` needs to open exactly ONE of the dataset's P files — zone
envelopes can never deliver that on a hash-scattered key column, because
every bucket's [lo, hi] spans the whole domain. At 100 TB this is the
difference between one task and a full scan.

The bit layout matches org.apache.spark.sql.catalyst.expressions.Murmur3Hash
(Catalyst's InterpretedHashFunction over Murmur3_x86_32), re-derived from
the public Murmur3 definition + Spark's documented per-type dispatch:

  - byte/short/int/date        -> hashInt(v)
  - long/timestamp(micros)     -> hashLong(v)
  - string/binary              -> hashUnsafeBytes (4-byte LE words, then
                                  per-byte SIGNED tail mixes — Spark's
                                  variant differs from canonical Murmur3's
                                  tail handling)

Every function is fuzz-verified bit-for-bit against ``F.hash`` in
``tests/test_sparkhash.py`` — the oracle is Spark itself, so drift is
impossible to miss.
"""

from __future__ import annotations

_C1 = 0xCC9E2D51
_C2 = 0x1B873593
_M32 = 0xFFFFFFFF

SEED = 42  # Murmur3Hash.seed in Catalyst


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * _C1) & _M32
    k1 = _rotl32(k1, 15)
    return (k1 * _C2) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = _rotl32(h1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def _signed32(x: int) -> int:
    x &= _M32
    return x - (1 << 32) if x >= (1 << 31) else x


def hash_int(v: int) -> int:
    """Spark hash of a 32-bit-kind value (byte/short/int/date)."""
    h1 = _mix_h1(SEED, _mix_k1(v & _M32))
    return _signed32(_fmix(h1, 4))


def hash_long(v: int) -> int:
    """Spark hash of a long-kind value (bigint/timestamp-micros)."""
    v &= 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(SEED, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1(v >> 32))
    return _signed32(_fmix(h1, 8))


def hash_bytes(b: bytes) -> int:
    """Spark hash of string (UTF-8 bytes) / binary values.

    Matches Murmur3_x86_32.hashUnsafeBytes: the aligned prefix is mixed
    as little-endian 4-byte words; each remaining tail byte is mixed as
    its OWN word, read as a SIGNED byte (Java getByte) — so bytes >=
    0x80 enter as negative ints. That tail rule is Spark-specific."""
    h1 = SEED
    n = len(b)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        w = int.from_bytes(b[i:i + 4], "little")
        h1 = _mix_h1(h1, _mix_k1(w))
    for i in range(aligned, n):
        byte = b[i]
        if byte >= 0x80:
            byte -= 0x100  # signed byte, sign-extended into the word
        h1 = _mix_h1(h1, _mix_k1(byte & _M32))
    return _signed32(_fmix(h1, n))


def bucket_of(value, arrow_type, partitions: int) -> int | None:
    """``pmod(hash(value), partitions)`` for a predicate literal in the
    column's STORAGE domain (the domain ``ZseqSourceReader._storage_value``
    / ``decode(predicate=...)`` already use): ints stay ints, timestamps
    are their storage-unit epoch ints, strings str, binary bytes.

    Returns None when the column's type is outside the exactly-supported
    set — the caller must then not prune (conservative). Supported:
    int8/16/32/64, date32, timestamp s/ms/us (storage rescaled to the
    micros Catalyst hashes), string/large_string, binary/large_binary.
    Floats/decimals/bools are deliberately out: Spark normalizes them
    before hashing and the storage domain doesn't carry that."""
    import pyarrow as pa

    if partitions <= 0:
        return None
    t = arrow_type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        if not isinstance(value, str):
            return None
        h = hash_bytes(value.encode())
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        if not isinstance(value, (bytes, bytearray)):
            return None
        h = hash_bytes(bytes(value))
    elif pa.types.is_timestamp(t):
        # Catalyst hashes the MICROsecond long regardless of the written
        # storage unit; ns storage can't come from a Spark shuffle key
        # (Catalyst timestamps are us) so refuse rather than guess.
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1}.get(t.unit)
        if scale is None or not isinstance(value, int) \
                or isinstance(value, bool):
            return None
        h = hash_long(value * scale)
    elif pa.types.is_date32(t):
        if not isinstance(value, int) or isinstance(value, bool):
            return None
        h = hash_int(value)
    elif pa.types.is_signed_integer(t):
        # unsigned storage can't have been a Spark shuffle key (Spark
        # has no unsigned types), so only signed widths are hashable
        if not isinstance(value, int) or isinstance(value, bool):
            return None
        bits = t.bit_width
        if not (-(1 << (bits - 1)) <= value < (1 << (bits - 1))):
            return None  # literal outside the column's domain
        # Catalyst widens byte/short/int into hashInt's 32-bit word and
        # hashes bigint via hashLong
        h = hash_long(value) if bits == 64 else hash_int(value)
    else:
        return None
    return h % partitions  # == Spark's pmod for positive partitions


def buckets_for_predicate(predicate, partition_col: str, arrow_type,
                          partitions: int) -> set[int] | None:
    """The set of hash buckets a conjunctive predicate can possibly
    match, or None when the predicate doesn't pin the partition column
    to finitely many exactly-hashable values. Intersects across ``=`` /
    ``in`` conjuncts on the column; any non-hashable literal in a
    conjunct disqualifies THAT conjunct only (conservative)."""
    out: set[int] | None = None
    for col, op, value in predicate or ():
        if col != partition_col:
            continue
        if op == "=":
            vs = (value,)
        elif op == "in":
            vs = tuple(value)
        else:
            continue
        bs = set()
        ok = True
        for v in vs:
            b = bucket_of(v, arrow_type, partitions)
            if b is None:
                ok = False
                break
            bs.add(b)
        if not ok:
            continue
        out = bs if out is None else (out & bs)
    return out
