"""zseq CLI — the rebuild of the reference's entry points
(/root/reference/zbra-cli/src/main.rs: convert/info/validate/example).

    python -m zseq encode  INPUT_PARQUET_DIR OUT_DIR [--mode files|preserve|hash|salted|range]
                           [--zstd-level 1..22]
    python -m zseq decode  ENC_DIR OUT_PARQUET_DIR
    python -m zseq info    ENC_DIR [--revision N]
    python -m zseq history ENC_DIR                        (time-travel catalog:
                           retained manifest revisions, decode --revision N)
    python -m zseq rollback ENC_DIR REVISION              (restore the live
                           dataset to a retained revision; history kept)
    python -m zseq dump    ENC_DIR [--part K --limit N]   (striped debug view)
    python -m zseq compact STREAM_DIR OUT_DIR             (merge epochs;
                           small-file GC for the streaming sink)
    python -m zseq verify  INPUT_PARQUET_DIR ENC_DIR      (bit-identical gate,
                           distributed exceptAll — no driver collect)
    python -m zseq vacuum  ENC_DIR [--min-age-sec N]      (age-gated GC of
                           unreferenced orphans from crashed writes)
    python -m zseq synth   OUT_PARQUET_DIR --docs N       (deterministic corpus)

Run standalone (builds its own local SparkSession) or via
``spark-submit --py-files zseq.zip -m zseq`` on a cluster; the package also
auto-ships itself to executors (session.ship_package).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("zseq-cli", master=args.master)


def cmd_encode(args) -> int:
    spark = _spark(args)
    from . import encode as zenc

    if args.partitions is not None and args.mode in ("files", "preserve"):
        # encode_parquet maps 1 input file -> 1 part and preserve mode
        # keeps input splits: a partition count would be silently ignored
        print(f"error: --partitions has no effect in mode={args.mode} "
              "(use --mode hash, salted or range)", file=sys.stderr)
        return 1
    if args.mode == "files":
        res = zenc.encode_parquet(spark, args.input, args.out,
                                  resume=args.resume, append=args.append,
                                  zstd_level=args.zstd_level)
    else:
        df = spark.read.parquet(args.input)
        res = zenc.encode(df, args.out, mode=args.mode,
                          partitions=args.partitions, resume=args.resume,
                          append=args.append,
                          zstd_level=args.zstd_level)
    print(json.dumps(res.manifest["totals"] | {"parts": len(res.parts)}))
    return 0


def cmd_decode(args) -> int:
    spark = _spark(args)
    from . import decode as zdec

    cols = [c.strip() for c in args.columns.split(",")] \
        if args.columns else None
    df = zdec.decode(spark, args.input, allow_partial=args.allow_partial,
                     columns=cols, revision=args.revision)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                      "out": args.out}))
    return 0


def cmd_history(args) -> int:
    """Time-travel catalog: every retained manifest revision, oldest
    first (one JSON line per revision). Any listed revision can be read
    with ``decode --revision N`` until vacuum expires its snapshot or
    an overwrite resets history."""
    from .encode import revisions

    rows = revisions(args.input)
    if not rows:
        print(f"error: no manifest.json in {args.input}", file=sys.stderr)
        return 1
    for r in rows:
        print(json.dumps(r))
    return 0


def cmd_rollback(args) -> int:
    """Restore the live dataset to a retained revision (no files move;
    the rolled-back-from revision stays time-travel-readable — see
    ``history``). Prints the new live manifest summary."""
    from .encode import rollback

    try:
        m = rollback(args.input, args.revision)
    except (FileNotFoundError, RuntimeError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps({"revision": m.get("revision"),
                      "rollback_of": m.get("rollback_of"),
                      "rows": m.get("totals", {}).get("rows"),
                      "parts": len(m.get("parts", []))}))
    return 0


def cmd_info(args) -> int:
    from .encode import read_manifest

    m = read_manifest(args.input, revision=args.revision)
    if m is None:
        # Streaming layout: aggregate every committed epoch's manifest
        # into one dataset view (same shape as the batch report).
        from .streaming import committed_epochs

        eps = committed_epochs(args.input)
        if not eps:
            print(f"error: no manifest.json in {args.input}",
                  file=sys.stderr)
            return 1
        manifests = [read_manifest(d) for d in eps]
        manifests = [e for e in manifests if e is not None]
        if not manifests:  # epochs vanished under a concurrent cleanup
            print(f"error: no manifest.json in {args.input}",
                  file=sys.stderr)
            return 1
        parts = [p for e in manifests for p in e.get("parts", [])]
        m = manifests[0] | {
            "mode": "stream",
            "partitions": len(parts),
            "parts": parts,
            # union of keys with .get: an epoch written by a different
            # code revision may carry different totals keys — report,
            # don't KeyError.
            "totals": {
                k: sum(e.get("totals", {}).get(k, 0) for e in manifests)
                for k in sorted({kk for e in manifests
                                 for kk in e.get("totals", {})})
            },
            "epochs": len(manifests),
            # a ratio over PARTIAL sums (one epoch missing its byte
            # counters) would silently under/overstate compression —
            # only report it when every epoch carried both counters.
            # Key PRESENCE, not truthiness: a legitimately committed
            # empty epoch (counters present, value 0) is complete.
            "_bytes_complete": all(
                "raw_bytes" in e.get("totals", {})
                and "enc_bytes" in e.get("totals", {})
                for e in manifests),
        }
    col_bytes: dict[str, int] = {}
    codecs: dict[str, dict[str, list[int]]] = {}
    for p in m.get("parts", []):
        for k, v in json.loads(p.get("col_bytes", "{}")).items():
            col_bytes[k] = col_bytes.get(k, 0) + v
        # {path: {codec: [blocks, bytes]}} summed over every part; a part
        # committed before ``codec_hist`` existed names only its last
        # block's codec per path: one block of unknown (0) bytes
        hist = json.loads(p.get("codec_hist") or "null") or {
            path: {c: [1, 0]}
            for path, c in json.loads(p.get("codecs", "{}")).items()}
        for path, by_codec in hist.items():
            for c, (blocks, nbytes) in by_codec.items():
                tot = codecs.setdefault(path, {}).setdefault(c, [0, 0])
                tot[0] += blocks
                tot[1] += nbytes
    view = {
        "format": m["format"], "mode": m.get("mode"),
        "partitions": m["partitions"], "schema": m["schema_names"],
        "totals": m["totals"],
        # ratio is None (not a silently-wrong number) when byte counters
        # are missing from any contributing manifest; the division is
        # gated separately on enc_bytes > 0 so an all-empty dataset
        # (counters present, 0/0) reports null rather than dividing
        "ratio": (round(m["totals"]["raw_bytes"]
                        / m["totals"]["enc_bytes"], 3)
                  if m.get("_bytes_complete", True)
                  and "raw_bytes" in m["totals"]
                  and m["totals"].get("enc_bytes", 0) > 0 else None),
        "codecs": codecs,
        "col_bytes": dict(sorted(col_bytes.items(),
                                 key=lambda kv: -kv[1])),
        # how much of the dataset supports driver-side FILE pruning:
        # parts committed by pre-zones revisions read fine but are
        # never pruned — an operator planning predicate-heavy reads at
        # scale wants to see that before re-encoding
        "zoned_parts": sum(1 for p in m.get("parts", [])
                           if p.get("zones")),
    }
    print(json.dumps(view, indent=2))
    return 0


def cmd_verify(args) -> int:
    """Decode and compare vs source as a DISTRIBUTED multiset equality:
    exceptAll in both directions must count 0 (the reference's E4
    validate + roundtrip check, main.rs:404-445 — but with no driver-side
    collect, so it runs at any scale; the comparison is two hash
    aggregations over (all columns))."""
    spark = _spark(args)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from . import decode as zdec

    src = spark.read.parquet(args.input)
    dec = zdec.decode(spark, args.enc).select(src.columns)

    from .encode import spark_type_has_map as has_map

    def norm(col, dt):
        # Spark refuses set operations on map columns; a map compares as
        # its sorted entry list (order-insensitive, content-exact) — at
        # ANY nesting depth (maps inside structs/arrays included).
        if isinstance(dt, T.MapType):
            entries = F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    norm(e["key"], dt.keyType).alias("key"),
                    norm(e["value"], dt.valueType).alias("value")))
            return F.array_sort(entries)
        if isinstance(dt, T.ArrayType) and has_map(dt.elementType):
            return F.transform(col, lambda x: norm(x, dt.elementType))
        if isinstance(dt, T.StructType) and has_map(dt):
            # rebuild only map-carrying structs; preserve struct-level
            # nullness (a null struct must not normalize to a struct of
            # nulls, which would mask real differences)
            rebuilt = F.struct(*[
                norm(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields])
            return F.when(col.isNotNull(), rebuilt)
        return col

    def comparable(df):
        out = df
        for f in df.schema.fields:
            if has_map(f.dataType):
                out = out.withColumn(f.name, norm(F.col(f.name),
                                                  f.dataType))
        return out

    # persist: count + two exceptAll actions would otherwise re-run the
    # full decode twice and the source scan three times
    src, dec = comparable(src).persist(), comparable(dec).persist()
    try:
        n_src = src.count()
        missing = src.exceptAll(dec).count()
        extra = dec.exceptAll(src).count()
    finally:
        src.unpersist()
        dec.unpersist()
    ok = missing == 0 and extra == 0
    print(json.dumps({"rows": n_src, "missing": missing, "extra": extra,
                      "bit_identical": ok}))
    return 0 if ok else 2


def cmd_compact(args) -> int:
    """Two compaction shapes behind one verb:

    ``compact <stream_dir> <out>`` — rewrite committed streaming epochs
    into one batch dataset through the hash encoder (full re-encode,
    deterministic buckets).

    ``compact <dataset_dir>`` (no out) — IN-PLACE incremental merge of
    the dataset's small part files (encode.compact_parts): only parts
    under --small-mb are read and re-encoded into ~--target-mb parts,
    committed by a revision-CAS manifest rewrite. O(small data), the
    post-append maintenance op; no Spark session needed."""
    if args.out is None:
        from . import encode as zenc

        res = zenc.compact_parts(
            args.input,
            target_bytes=int(args.target_mb * (1 << 20)),
            small_bytes=(int(args.small_mb * (1 << 20))
                         if args.small_mb is not None else None),
            dry_run=args.dry_run)
        print(json.dumps(res))
        return 0
    spark = _spark(args)
    from . import encode as zenc
    from . import streaming

    df = streaming.decode_stream(spark, args.input)
    res = zenc.encode(
        df, args.out, mode="hash",
        partitions=args.partitions
        or spark.sparkContext.defaultParallelism)
    print(json.dumps(res.manifest["totals"]
                     | {"parts": len(res.parts),
                        "epochs_in": len(
                            streaming.committed_epochs(args.input))}))
    return 0


def cmd_dump(args) -> int:
    """E6: the striped debug view (zbra-cli main.rs:744-1112) — decoded
    per-column JSON dump of one part file, with the codec chosen for each
    column. Driver-side and bounded by --limit: a debug tool, not a data
    path."""
    import os

    from .encode import read_manifest
    from .zseqfile import ZseqReader

    m = read_manifest(args.input)
    if m is None:
        print(f"error: no manifest.json in {args.input}", file=sys.stderr)
        return 1
    if not 0 <= args.part < len(m["parts"]):
        print(f"error: part {args.part} out of range "
              f"(0..{len(m['parts']) - 1})", file=sys.stderr)
        return 1
    part = m["parts"][args.part]
    from .zseqfile import check_crc

    path = os.path.join(args.input, part["file"])
    with open(path, "rb") as f:
        content = f.read()
    check_crc(content, part.get("crc32"), path)
    r = ZseqReader(content)
    # Decode only as many BLOCKS as the limit needs — blocks are
    # length-prefixed and independently decodable, so a multi-GB part
    # never fully decompresses for a 20-row peek.
    import pyarrow as pa

    batches, n_rows = [], 0
    for b in r.batches():
        batches.append(b)
        n_rows += b.num_rows
        if n_rows >= args.limit:
            break
    tbl = pa.Table.from_batches(batches, schema=r.schema)

    def jval(o):
        if isinstance(o, bytes):
            return o.hex()
        return str(o)

    view = {
        "file": part["file"],
        "rows": part["rows"],
        "rows_decoded": tbl.num_rows,
        "schema": {n: str(tbl.schema.field(n).type)
                   for n in tbl.column_names},
        "codecs": json.loads(part["codecs"]),
        "columns": {
            n: tbl.column(n).slice(0, args.limit).to_pylist()
            for n in tbl.column_names
        },
    }
    print(json.dumps(view, indent=2, default=jval))
    return 0


def cmd_vacuum(args) -> int:
    """Age-gated GC of unreferenced .zseq orphans (crashed pre-commit
    writes) in a committed batch dataset or a streaming-epoch layout —
    the explicit sweep gc_unreferenced is not entitled to do."""
    from .encode import vacuum

    removed = vacuum(args.input, min_age_sec=args.min_age_sec,
                     dry_run=args.dry_run,
                     keep_revisions=args.keep_revisions)
    print(json.dumps({"removed": len(removed), "dry_run": args.dry_run,
                      "files": [p.rsplit("/", 1)[-1] for p in removed]}))
    return 0


def cmd_synth(args) -> int:
    spark = _spark(args)
    from . import synth

    df = synth.tokens_df_range(spark, args.docs)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"docs": args.docs, "out": args.out}))
    return 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="zseq")
    p.add_argument("--master", default=None,
                   help="Spark master (default local[$SPARK_GRAFT_CPUS])")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("encode")
    e.add_argument("input")
    e.add_argument("out")
    e.add_argument("--mode",
                   choices=["files", "preserve", "hash", "salted",
                            "range"],
                   default="files")
    e.add_argument("--partitions", type=int, default=None)
    e.add_argument("--resume", action="store_true")
    e.add_argument("--append", action="store_true",
                   help="grow the committed dataset with this input as "
                        "new parts (atomic manifest rewrite; schema "
                        "must match exactly)")
    e.add_argument("--zstd-level", type=int, default=None,
                   help="zstd level 1-22 (reference compression.rs:14-23; "
                        "default 3)")
    e.set_defaults(fn=cmd_encode)

    d = sub.add_parser("decode")
    d.add_argument("input")
    d.add_argument("out")
    d.add_argument("--allow-partial", action="store_true")
    d.add_argument("--revision", type=int, default=None,
                   help="time travel: decode the dataset as of this "
                        "manifest revision (see `history`)")
    d.add_argument("--columns", default=None,
                   help="comma-separated projection pushed into the blob "
                        "reader (unlisted columns are never decompressed)")
    d.set_defaults(fn=cmd_decode)

    i = sub.add_parser("info")
    i.add_argument("input")
    i.add_argument("--revision", type=int, default=None,
                   help="report the manifest as of this retained "
                        "revision (see `history`)")
    i.set_defaults(fn=cmd_info)

    h = sub.add_parser("history")
    h.add_argument("input")
    h.set_defaults(fn=cmd_history)

    rb = sub.add_parser("rollback")
    rb.add_argument("input")
    rb.add_argument("revision", type=int)
    rb.set_defaults(fn=cmd_rollback)

    v = sub.add_parser("verify")
    v.add_argument("input")
    v.add_argument("enc")
    v.set_defaults(fn=cmd_verify)

    c = sub.add_parser("compact")
    c.add_argument("input")
    c.add_argument("out", nargs="?", default=None,
                   help="omit for in-place small-part compaction of a "
                        "committed batch dataset")
    c.add_argument("--partitions", type=int, default=None)
    c.add_argument("--target-mb", type=float, default=128.0,
                   help="in-place: merged part size target")
    c.add_argument("--small-mb", type=float, default=None,
                   help="in-place: only parts under this are merged "
                        "(default target/2)")
    c.add_argument("--dry-run", action="store_true",
                   help="in-place: report the merge plan, write nothing")
    c.set_defaults(fn=cmd_compact)

    vac = sub.add_parser("vacuum")
    vac.add_argument("input")
    vac.add_argument("--min-age-sec", type=float, default=86400.0,
                     help="only remove files at least this old (protects "
                          "a concurrently running writer's fresh parts)")
    vac.add_argument("--dry-run", action="store_true")
    vac.add_argument("--keep-revisions", type=int, default=1,
                     help="retention floor: never expire the newest N "
                          "time-travel revision snapshots, however old "
                          "(default 1 = the live revision only)")
    vac.set_defaults(fn=cmd_vacuum)

    du = sub.add_parser("dump")
    du.add_argument("input")
    du.add_argument("--part", type=int, default=0)
    du.add_argument("--limit", type=int, default=20)
    du.set_defaults(fn=cmd_dump)

    s = sub.add_parser("synth")
    s.add_argument("out")
    s.add_argument("--docs", type=int, default=10000)
    s.set_defaults(fn=cmd_synth)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
