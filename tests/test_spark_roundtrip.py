"""End-to-end Spark encode -> decode == source (the EP3 correctness
contract, /root/reference/zbra-core/tests/roundtrip.rs:16-22 /
production-data.rs:89-96, rebuilt on the distributed path), plus
checkpoint-resume semantics."""

import os

import pytest

from zseq import decode as zdec
from zseq import encode as zenc
from zseq import synth


@pytest.fixture(scope="module")
def tokens_df(spark):
    return synth.tokens_df_range(spark, 2000, partitions=4).cache()


def _sorted_rows(df):
    return [
        (r.doc_id, list(r.tokens), r.n_tok, r.source)
        for r in df.orderBy("doc_id").collect()
    ]


def test_spark_roundtrip_bit_identical(spark, tokens_df, tmp_path):
    out = str(tmp_path / "enc")
    res = zenc.encode(tokens_df, out, partitions=4)
    assert res.total_rows == 2000
    assert os.path.exists(os.path.join(out, "manifest.json"))
    back = zdec.decode(spark, out)
    assert _sorted_rows(back) == _sorted_rows(tokens_df)


def test_decode_from_percent_encoded_path(spark, tokens_df, tmp_path):
    """Spark's binaryFile source percent-encodes URI-special characters
    in the dataset path (a space -> %20); the crc lookup must url-decode
    rather than hard-failing every read with 'no crc32 entry'."""
    out = str(tmp_path / "enc with space")
    zenc.encode(tokens_df, out, partitions=2)
    back = zdec.decode(spark, out)
    assert _sorted_rows(back) == _sorted_rows(tokens_df)


def test_decode_not_bound_by_binary_file_max_length(spark, tokens_df,
                                                    tmp_path):
    """Workers open part files themselves: Spark's binaryFile size limit
    (spark.sql.sources.binaryFile.maxLength, 2 GiB by default) must not
    refuse a part larger than it, in decode() or decode_stream."""
    from zseq import streaming

    out = str(tmp_path / "maxlen")
    epoch = streaming.epoch_dir(out, 0)
    res = zenc.encode(tokens_df, epoch, partitions=2)
    key = "spark.sql.sources.binaryFile.maxLength"
    spark.conf.set(key, str(min(p["enc_bytes"] for p in res.parts) - 1))
    try:
        want = _sorted_rows(tokens_df)
        assert _sorted_rows(zdec.decode(spark, epoch)) == want
        assert _sorted_rows(streaming.decode_stream(spark, out)) == want
    finally:
        spark.conf.unset(key)


def test_encode_parquet_task_plan_is_constant_size(spark):
    """The encode_parquet task list rides in the task closure, not in
    the plan: the analyzed plan of 5,000 tasks is the plan of 10 (equal
    up to the numbers in it). Built only, never executed."""
    import re

    import pyarrow as pa

    from zseq.session import run_tasks

    schema = pa.schema([pa.field("doc_id", pa.int64())])
    fn = zenc._encode_files("/nonexistent/out", schema, None, "tok")

    def plan(n):
        tasks = [(i, f"/nonexistent/in-{i:05d}.parquet") for i in range(n)]
        df = run_tasks(spark, tasks, fn, zenc.METRICS_SCHEMA)
        return re.sub(r"\d+", "0",
                      df._jdf.queryExecution().analyzed().toString())

    small, large = plan(10), plan(5000)
    assert len(small) == len(large), (small, large)


def test_manifest_metrics(spark, tokens_df, tmp_path):
    out = str(tmp_path / "enc2")
    res = zenc.encode(tokens_df, out, partitions=4)
    m = res.manifest
    assert m["totals"]["rows"] == 2000
    assert m["totals"]["list_elems"] > 0
    assert m["totals"]["enc_bytes"] > 0
    assert all("codecs" in p for p in m["parts"])
    # every committed part file exists and matches its crc32
    import zlib

    for p in m["parts"]:
        path = os.path.join(out, p["file"])
        with open(path, "rb") as f:
            assert zlib.crc32(f.read()) == p["crc32"]


def test_resume_skips_done_partitions(spark, tokens_df, tmp_path):
    out = str(tmp_path / "enc3")
    full = zenc.encode(tokens_df, out, partitions=4, mode="hash")
    # simulate a partial failure: delete one part file + the manifest's
    # knowledge of it, then resume
    victim = full.parts[2]
    os.remove(os.path.join(out, victim["file"]))
    res = zenc.encode(tokens_df, out, partitions=4, mode="hash", resume=True)
    assert res.total_rows == 2000
    back = zdec.decode(spark, out)
    assert back.count() == 2000
    assert _sorted_rows(back) == _sorted_rows(tokens_df)


def test_resume_partition_count_mismatch_raises(spark, tokens_df, tmp_path):
    out = str(tmp_path / "enc4")
    zenc.encode(tokens_df, out, partitions=4, mode="hash")
    with pytest.raises(ValueError, match="partitions"):
        zenc.encode(tokens_df, out, partitions=8, mode="hash", resume=True)


def test_decode_without_manifest_refuses(spark, tokens_df, tmp_path):
    out = str(tmp_path / "enc5")
    zenc.encode(tokens_df, out, partitions=2)
    os.remove(os.path.join(out, "manifest.json"))
    with pytest.raises(FileNotFoundError):
        zdec.decode(spark, out)
    # but allow_partial works
    back = zdec.decode(spark, out, allow_partial=True)
    assert back.count() == 2000


def test_real_testdata_roundtrip(spark, tmp_path):
    """Mixed-type real parquet (lineitem sf0.001) roundtrips exactly."""
    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/lineitem.parquet"):
        pytest.skip("testdata not present")
    df = spark.read.parquet(f"{sf}/lineitem.parquet")
    out = str(tmp_path / "lineitem")
    zenc.encode(df, out, partitions=4, partition_col="l_orderkey")
    back = zdec.decode(spark, out)
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_nested_types_roundtrip(spark, tmp_path):
    """struct / map / array columns through the full distributed path —
    including the empty-map keys child that carries no offsets buffer."""
    df = spark.createDataFrame(
        [
            (1, {"a": 1, "b": "x"}, {"k": 1.5}, [1, 2]),
            (2, {"a": 2, "b": None}, {}, []),
            (3, None, {"k": -1.0, "j": 0.0}, [7]),
        ],
        "id long, s struct<a:long,b:string>, m map<string,double>, "
        "l array<int>",
    )
    out = str(tmp_path / "nested")
    zenc.encode(df, out, partitions=2)
    back = zdec.decode(spark, out)
    a = sorted(str(r) for r in df.collect())
    b = sorted(str(r) for r in back.collect())
    assert a == b


def test_encode_zstd_level_and_reversed_end_to_end(spark, tokens_df,
                                                   tmp_path):
    """Distributed encode with a non-default zstd level and a Reversed
    column marker: manifest records both, roundtrip stays bit-identical,
    level 19 compresses the text-ish blob no worse than level 1."""
    out19 = str(tmp_path / "enc19")
    out1 = str(tmp_path / "enc1")
    r19 = zenc.encode(tokens_df, out19, partitions=2, zstd_level=19,
                      reversed_cols=["n_tok"])
    r1 = zenc.encode(tokens_df, out1, partitions=2, zstd_level=1)
    assert r19.manifest["zstd_level"] == 19
    assert r19.manifest["reversed_cols"] == ["n_tok"]
    assert r1.manifest["zstd_level"] == 1
    back = zdec.decode(spark, out19)
    assert _sorted_rows(back) == _sorted_rows(tokens_df)
    import pytest as _pt
    with _pt.raises(ValueError, match="1, 22"):
        zenc.encode(tokens_df, str(tmp_path / "bad"), zstd_level=0)


def test_schema_inference_without_manifest(spark, tokens_df, tmp_path):
    """E7 (schema inference from striped data, zbra-cli main.rs:1114-1220):
    every .zseq blob carries its exact Arrow schema in the header, so a
    dataset whose manifest is lost still decodes with the right schema
    (allow_partial) — inference is a header read, not a heuristic."""
    out = str(tmp_path / "noman")
    zenc.encode(tokens_df, out, partitions=2)
    os.remove(os.path.join(out, "manifest.json"))
    back = zdec.decode(spark, out, allow_partial=True)
    assert back.schema == tokens_df.schema
    assert back.count() == tokens_df.count()


def test_zstd_level_does_not_leak_into_later_default_encodes(
        spark, tokens_df, tmp_path):
    """PySpark reuses daemon workers: a prior job's zstd level must not
    bleed into a later default-level encode (encoded bytes must be
    deterministic regardless of worker temperature)."""
    a = zenc.encode(tokens_df, str(tmp_path / "a"), partitions=2)
    zenc.encode(tokens_df, str(tmp_path / "b"), partitions=2,
                zstd_level=22)
    c = zenc.encode(tokens_df, str(tmp_path / "c"), partitions=2)
    assert a.manifest["totals"]["enc_bytes"] \
        == c.manifest["totals"]["enc_bytes"]
    ca = {p["part_id"]: p["crc32"] for p in a.parts}
    cc = {p["part_id"]: p["crc32"] for p in c.parts}
    assert ca == cc


def test_decode_ignores_stray_part_files(spark, tokens_df, tmp_path):
    """Committed reads follow the manifest ONLY: orphans of a crashed
    overwrite/epoch commit must not leak rows in."""
    import shutil

    out = str(tmp_path / "stray")
    zenc.encode(tokens_df, out, partitions=2)
    n = tokens_df.count()
    real = sorted(f for f in os.listdir(out) if f.endswith(".zseq"))[0]
    shutil.copy(os.path.join(out, real),
                os.path.join(out, "part-deadbeef-99999.zseq"))
    assert zdec.decode(spark, out).count() == n


def test_gc_unreferenced_deletes_only_entitled_files(tmp_path):
    """The commit-time GC deletes ONLY the superseded manifest's parts
    and this job's token leftovers (+ stale tmp files); a concurrent
    writer's parts and a crashed job's salvageable parts survive."""
    d = str(tmp_path)
    for name in ("part-oldm-00000.zseq",      # in the old manifest
                 "part-tok1-00001.zseq",      # our token, not kept
                 "part-tok1-00000.zseq.tmp-9",  # tmp of a kept file
                 "part-conc-00000.zseq",      # concurrent writer
                 "part-crash-00000.zseq",     # crashed job, no manifest
                 "part-tok1-00000.zseq"):     # kept
        open(os.path.join(d, name), "wb").write(b"x")
    zenc.gc_unreferenced(
        d, keep={"part-tok1-00000.zseq"},
        old_files={"part-oldm-00000.zseq"}, token="tok1")
    left = sorted(f for f in os.listdir(d) if ".zseq" in f)
    assert left == ["part-conc-00000.zseq", "part-crash-00000.zseq",
                    "part-tok1-00000.zseq"]


def test_reencode_into_committed_dir_is_atomic(spark, tokens_df, tmp_path):
    """zenc.encode into an already-committed directory never clobbers the
    old files in place; after the new commit the old parts are GC'd and
    the dataset reads the new content exactly."""
    out = str(tmp_path / "re")
    zenc.encode(tokens_df, out, partitions=2)
    first = {f for f in os.listdir(out) if f.endswith(".zseq")}
    small = tokens_df.limit(100)
    zenc.encode(small, out, partitions=1)
    second = {f for f in os.listdir(out) if f.endswith(".zseq")}
    assert first.isdisjoint(second)
    assert zdec.decode(spark, out).count() == 100


def test_resume_refuses_zstd_level_change(spark, tokens_df, tmp_path):
    out = str(tmp_path / "zl")
    zenc.encode(tokens_df, out, partitions=2, mode="hash", zstd_level=3)
    with pytest.raises(ValueError, match="zstd_level"):
        zenc.encode(tokens_df, out, partitions=2, mode="hash",
                    resume=True, zstd_level=9)
    # same level resumes fine
    zenc.encode(tokens_df, out, partitions=2, mode="hash",
                resume=True, zstd_level=3)


def test_encode_parquet_schema_drift_named_up_front(spark, tmp_path):
    """The up-front footer check mirrors exactly what the task path
    tolerates: extra columns drop, castable widening rides tbl.cast;
    only a missing required column or cast-incompatible drift is
    refused — with the culprit file NAMED, before any task runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "drift")
    import os

    os.makedirs(src)
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()),
                             "v": pa.array(["a", "b"])}),
                   os.path.join(src, "a.parquet"))
    pq.write_table(pa.table({"k": pa.array(["x"]),  # string: not castable
                             "v": pa.array(["c"])}),
                   os.path.join(src, "b.parquet"))
    out = str(tmp_path / "driftout")
    with pytest.raises(ValueError, match="b.parquet"):
        zenc.encode_parquet(spark, src, out)

    # castable widening (int32 -> int64) + an extra column are accepted,
    # exactly as the task path always handled them
    src2 = str(tmp_path / "drift2")
    os.makedirs(src2)
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64()),
                             "v": pa.array(["a", "b"])}),
                   os.path.join(src2, "a.parquet"))
    pq.write_table(pa.table({"k": pa.array([3], pa.int32()),
                             "v": pa.array(["c"]),
                             "extra": pa.array([9], pa.int64())}),
                   os.path.join(src2, "b.parquet"))
    out2 = str(tmp_path / "driftout2")
    res2 = zenc.encode_parquet(spark, src2, out2)
    assert res2.total_rows == 3
    # a missing required column is refused with the file named
    src3 = str(tmp_path / "drift3")
    os.makedirs(src3)
    pq.write_table(pa.table({"k": pa.array([1], pa.int64()),
                             "v": pa.array(["a"])}),
                   os.path.join(src3, "a.parquet"))
    pq.write_table(pa.table({"k": pa.array([2], pa.int64())}),
                   os.path.join(src3, "b.parquet"))
    with pytest.raises(ValueError, match="b.parquet"):
        zenc.encode_parquet(spark, src3, str(tmp_path / "driftout3"))


def test_encode_parquet_zero_row_file_roundtrip(spark, tmp_path):
    """A zero-row parquet input commits an empty part: the task reads its
    file in record batches, and the file's schema types the empty
    table."""
    import pyarrow.parquet as pq

    from zseq.zseqfile import ZseqReader

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    tbl = synth.tokens_table_arrow(300)
    pq.write_table(tbl, os.path.join(src, "a.parquet"))
    pq.write_table(tbl.slice(0, 0), os.path.join(src, "b.parquet"))
    res = zenc.encode_parquet(spark, src, out)
    assert [(p["part_id"], p["rows"]) for p in res.parts] == [(0, 300),
                                                             (1, 0)]
    with open(os.path.join(out, res.parts[1]["file"]), "rb") as f:
        empty = ZseqReader(f.read()).read_all()
    assert empty.num_rows == 0 and empty.schema.names == tbl.schema.names
    back = zdec.decode(spark, out)
    assert _sorted_rows(back) == sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in tbl.to_pylist())


def test_nested_map_parquet_roundtrip(spark, tmp_path):
    """Regression: map arrays crossing the JVM->Python Arrow boundary
    segfault this Spark/pyarrow pairing intermittently (worst with
    parquet-scanned list<map>); encode strips maps to entries arrays
    JVM-side and rebuilds them worker-side (strip_maps_df/_restore_maps),
    so the roundtrip must be exact for every nesting shape."""
    df = spark.createDataFrame(
        [(1, {"a": 1}, ({"x": 1.5},), [{"k": 2}]),
         (2, {}, ({},), []),
         (3, None, (None,), [{}]),
         (4, {"b": 7, "c": 8}, ({"y": -0.0},), [{"m": 1}, {}])],
        "k long, m map<string,int>, s struct<im: map<string,double>>, "
        "am array<map<string,int>>")
    src = str(tmp_path / "nmsrc")
    out = str(tmp_path / "nmenc")
    df.write.mode("overwrite").parquet(src)
    back_src = spark.read.parquet(src)
    zenc.encode(back_src, out, partitions=4)
    got = sorted([tuple(r) for r in zdec.decode(spark, out).collect()])
    want = sorted([tuple(r) for r in back_src.collect()])
    assert got == want


def test_resume_refuses_schema_drift(spark, tokens_df, tmp_path):
    """Resuming with a different dataframe schema must refuse up front:
    reused parts were written under the OLD schema, and committing them
    beneath a new-schema manifest would make every read fail."""
    out = str(tmp_path / "rsd")
    full = zenc.encode(tokens_df, out, partitions=4, mode="hash")
    os.remove(os.path.join(out, full.parts[1]["file"]))
    drifted = tokens_df.withColumnRenamed("source", "src")
    with pytest.raises(ValueError, match="schema"):
        zenc.encode(drifted, out, partitions=4, mode="hash", resume=True)
    # same-schema resume still works after the refusal
    res = zenc.encode(tokens_df, out, partitions=4, mode="hash",
                      resume=True)
    assert res.total_rows == 2000
