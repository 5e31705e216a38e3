"""zseq — a PySpark-native per-column lightweight-compression engine.

A brand-new, Spark-first rebuild of the capabilities of justanotherdot/zbra
(a Rust columnar binary format with a FOR -> zig-zag -> bit-pack -> zstd
integer pipeline; see /root/reference). NOT a port: the relational layer is
Spark SQL/Catalyst; what zseq builds is the codec/dataflow layer that zbra
implements natively, re-expressed as vectorized numpy/Arrow kernels running
inside ``mapInArrow`` — zero per-row Python on the hot path.

Layers (mirroring zbra's four-layer design, README.md:5-12 of the reference):

  JSON/Parquet  ->  Spark DataFrame (logical rows)
  logical       ->  Spark/Arrow types (the Arrow schema rides in every
                    part header and manifest)
  striped       ->  Arrow RecordBatch columns shredded in zseq.column
  binary        ->  .zseq blob files written per-partition (zseq.zseqfile)

Correctness contract (reference zbra-core/tests/roundtrip.rs:12-22):
``decode(encode(df)) == df`` bit-identically, per row, including
token-array equality on ``array<int32>`` columns.
"""

__version__ = "0.1.0"

# The format revision is part of the magic, so a reader at an older
# revision REFUSES a newer file at the header instead of misparsing it
# mid-column; new readers accept every revision in MAGIC_COMPAT.
# 00002 added zone-map sections behind chunk flags-bit1 (int bounds,
# then string/binary byte-bound envelopes); the flags bit says whether
# a zone section is present. 00003 added the width-symbol int codec
# (intcodecs T_WSYM), a tag older readers do not know.
MAGIC = b"||_ZSEQ||00003||"
MAGIC_COMPAT = (MAGIC, b"||_ZSEQ||00002||", b"||_ZSEQ||00001||")
