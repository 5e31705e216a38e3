"""The streaming epoch layout: a stream of micro-batches -> .zseq epochs.

``df.writeStream.format("zseq").start(out_dir)`` (the DataSource sink,
:class:`zseq.datasource.ZseqStreamWriter`) commits each micro-batch into
its own epoch directory, with the manifest published through
``encode.Commit`` like every writer:

    out_dir/
      .staging/       parts of micro-batches not yet committed
      epoch-00000000/ part-*.zseq + manifest.json (+ manifest-r*.json)
      epoch-00000001/ ...

An epoch directory is committed once it holds a ``manifest.json``, and a
replayed micro-batch whose epoch already committed is a no-op, so
Spark's at-least-once replay becomes exactly-once. ``decode_stream``,
``spark.readStream.format("zseq")``, ``vacuum`` and the CLI read the
union of committed epochs; uncommitted (crashed mid-epoch) directories
are invisible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import encode as zenc


def epoch_dir(out_dir: str, epoch_id: int) -> str:
    return os.path.join(out_dir, f"epoch-{epoch_id:08d}")


def committed_epochs(out_dir: str) -> list[str]:
    """Epoch directories holding a ``manifest.json`` — the rule of
    ``encode.read_manifest`` (a directory without one holds no committed
    dataset), checked without parsing every epoch's manifest."""
    if not os.path.isdir(out_dir):
        return []
    out = []
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if name.startswith("epoch-") and \
                os.path.exists(os.path.join(d, "manifest.json")):
            out.append(d)
    return out


def decode_stream(spark: SparkSession, out_dir: str,
                  columns: list[str] | None = None,
                  predicate: list[tuple] | None = None,
                  schema=None) -> DataFrame:
    """All committed epochs as one DataFrame, through the read path of
    :func:`zseq.decode.decode`: the driver reads every epoch manifest
    once, prunes each epoch's files against ``predicate`` and packs the
    surviving (path, crc32) pairs of all epochs into task groups; the
    plan is ONE ``spark.range`` leaf plus one mapInArrow regardless of
    the epoch count (a per-epoch ``decode().unionByName()`` chain costs
    O(epochs) plan nodes — at thousands of epochs the driver chokes
    before the cluster does). Every file is checked against its own
    epoch's crc. The schema must be identical across epochs.

    ``schema`` -> the same read-side schema EVOLUTION as
    :func:`zseq.decode.decode`: a superset reader schema whose new
    nullable columns are L6-default-filled — a long-lived stream whose
    consumers grew columns keeps reading every epoch ever committed."""
    from . import decode as zdec
    from .session import ship_package

    ship_package(spark)
    # an epoch listed but unreadable raced with an in-flight commit
    committed = [(d, m) for d in committed_epochs(out_dir)
                 if (m := zenc.read_manifest(d)) is not None]
    if not committed:
        raise FileNotFoundError(f"no committed epochs in {out_dir}")
    first, m0 = committed[0]
    entries = []
    for d, m in committed:
        if m["schema"] != m0["schema"]:
            raise ValueError(
                f"{d}: epoch schema differs from {first} — the stream "
                "was restarted with a different schema; compact or read "
                "the epoch ranges separately")
        entries += zdec.part_entries(d, m)
    return zdec.read_parts(spark, entries, zdec.manifest_schema(m0),
                           columns, predicate, schema)
