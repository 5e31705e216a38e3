"""Structured Streaming ingest: a stream of rows -> .zseq epochs.

The reference's "streaming" is chunked file I/O in its benches
(/root/reference/zbra-core/benches/streaming-io.rs:8-51 — 1000-row chunks,
single process). The Spark-native rebuild is real streaming: any
``readStream`` source feeds ``foreachBatch``, each micro-batch is encoded
into its own epoch directory with the standard atomic manifest, and epoch
replay (Spark's at-least-once foreachBatch contract) is made exactly-once
by the manifest commit: a replayed epoch that already committed is a no-op.

    out_dir/
      epoch-00000000/ part-*.zseq + manifest.json
      epoch-00000001/ ...

``decode_stream`` reads the union of committed epochs — uncommitted
(crashed mid-epoch) directories are invisible, preserving the
encode-side atomicity across the streaming boundary.
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


def encode_stream(stream_df: DataFrame, out_dir: str, checkpoint: str,
                  partitions: int | None = None, cluster: bool = True,
                  available_now: bool = True):
    """Start the streaming encode. Returns the StreamingQuery.

    ``available_now=True`` drains everything currently available and
    stops (the batch-ingest pattern); pass False for a continuous query.
    """
    os.makedirs(out_dir, exist_ok=True)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        dest = epoch_dir(out_dir, epoch_id)
        if zenc.read_manifest(dest) is not None:
            return  # replayed epoch — already committed, exactly-once
        zenc.encode(batch_df, dest, mode="hash",
                    partitions=partitions
                    or batch_df.sparkSession.sparkContext.defaultParallelism,
                    cluster=cluster)

    writer = (
        stream_df.writeStream
        .foreachBatch(process)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(stream_df: DataFrame, col: str = "text",
                 key: str = "doc_id") -> DataFrame:
    """Cross-batch streaming exact dedup: emit each distinct (normalized)
    text exactly once over the stream's lifetime — the first row seen for
    its fingerprint (min ``key`` within a batch for determinism).

    This is the custom-stateful-operator pattern
    (``applyInPandasWithState``): state is keyed on the md5 fingerprint
    and holds a single 'seen' flag, so state size is one tiny row per
    distinct document ever seen — the minimum any exactly-once dedup can
    hold — and it shuffles once on the fingerprint, the same key the
    batch ``exact_groups`` uses. Replays are idempotent because state
    lives in the checkpoint."""
    import pandas as pd

    from .textops import fingerprint_exprs

    fp_s, _ = fingerprint_exprs(col)
    cols = stream_df.columns
    with_fp = stream_df.selectExpr(*cols, f"{fp_s} as fingerprint")
    out_type = with_fp.schema

    def fn(key_tuple, pdfs, state):
        if state.exists:
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        state.update((True,))
        first = batch.sort_values(key).head(1)
        yield first

    return (
        with_fp.groupBy("fingerprint")
        .applyInPandasWithState(
            fn, out_type, "seen boolean", "update",
            "NoTimeout")
    )


def windowed_stats(stream_df: DataFrame, time_col: str = "ts",
                   window: str = "1 minute", slide: str | None = None,
                   watermark: str = "2 minutes",
                   keys: tuple = ("source",),
                   value_col: str = "n_tok") -> DataFrame:
    """Event-time windowed ingest stats with a watermark — docs and
    token mass per (window, keys) over a stream.

    The watermark IS the state bound: windows older than
    max(event_time) - watermark are finalized and evicted, and rows
    arriving later than that are dropped (the late-data contract), so
    state size is O(active windows x key cardinality) regardless of how
    long the stream runs. The aggregation is algebraic (count/sum), so
    Spark applies map-side partial aggregation before the one shuffle
    on (window, keys)."""
    from pyspark.sql import functions as F

    w = F.window(F.col(time_col), window, slide or window)
    agg = (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(w.alias("win"), *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("docs"),
             F.sum(value_col).alias("tokens"))
    )
    return agg.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        *[F.col(k) for k in keys],
        F.col("docs"), F.col("tokens"))


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
