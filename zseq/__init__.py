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

# Format revision 00002 added zone-map sections behind chunk flags-bit1
# (int bounds, then string/binary byte-bound envelopes). The version is
# part of the magic so a reader at an older revision REFUSES new files
# loudly instead of misparsing the zone section; new readers accept both
# revisions (the flags bit says whether a zone section is present).
MAGIC = b"||_ZSEQ||00002||"
MAGIC_COMPAT = (MAGIC, b"||_ZSEQ||00001||")

# Inside a pyspark executor worker (and only there — gated on the worker
# factory env the daemon exports), quiet the immutable zip finders as
# soon as zseq is imported: the worker re-reads every zip finder's
# central directory before EVERY task otherwise (see
# zseq.session.quiet_worker_zip_finders), and warmup tasks import zseq
# before the first timed task runs.
import os as _os

if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ \
        or "PYTHON_WORKER_FACTORY_PORT" in _os.environ \
        or "PYTHON_WORKER_FACTORY_SOCK_PATH" in _os.environ:
    try:
        from .session import quiet_worker_zip_finders as _q

        _q()
    except Exception:  # never let an optimization break an import
        pass
