"""The three workloads: setup, the closed measurement loop, the checks,
and the traced replay that gives the per-layer metrics.

Every workload runs against ``local[nproc]`` Spark from one driver
process, one job in flight at a time (a closed loop with one client).
The engine sees only the generated input files.

- ``ingest_fixture_large``: F0 fixture files of 234,375 rows (sf1's rows
  per part), two waves of files on the cores. Codec kernels, clustering
  and zstd dominate; Spark's per-task cost is small. This row layout
  shows the size cliff (the tail block of wide rows falls back to
  ``pack``).
- ``ingest_zipf_small``: the Zipf corpus in 25K-row files, 12 per core.
  The fixed cost per task is a large share, the codecs take the
  forbp/pack path, and zstd finds no repeats across docs: batching
  files per task shows here and not above.
- ``read_append``: a Zipf dataset encoded in setup; each round is a full
  scan with a checksum aggregate, a projected read, a doc_id-range read
  of 1/16 of the rows, and a 10K-row append, then an untimed rollback so
  every round starts from the same committed revision. Decode, crc,
  unpack, pruning and the commit protocol, with no bulk encode.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import tempfile
import time
import urllib.request
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from zseq import decode, encode, oracle, synth, zseqfile

from . import host
from .trace import Tracer

CORES = len(os.sched_getaffinity(0))
# Time metrics are reported at a reference host speed. This host's speed
# swings between runs by more than any bound (identical encode jobs took
# 4.6 s or 8.2 s within minutes, set-up 20 s or 35 s). host.CpuProbe, a
# fixed job that runs no engine code, runs between set-up steps and
# between operations; its best rate in a phase estimates the host's
# speed in that phase, since contention only ever slows it. Unscaled,
# the throughput spread over seeds reached 0.49 of the median when runs
# straddled a slow spell. REF_PROBE_RATE is the probe's best rate on the
# 4-vCPU development host.
REF_PROBE_RATE = 12.0
BATCH_ROWS = 1 << 16
CK = ["count(*) AS rows", "sum(n_tok) AS tokens",
      "sum(element_at(tokens, 1)) AS first",
      "sum(element_at(tokens, -1)) AS last"]
CK_KEYS = ("rows", "tokens", "first", "last")
_CK_SCHEMA = pa.schema([("idx", pa.int64()), ("rows", pa.int64()),
                        ("tokens", pa.int64()), ("first", pa.int64()),
                        ("last", pa.int64())])
_VERIFY_SCHEMA = pa.schema([("rows", pa.int64()), ("bad_rows", pa.int64())])


def _ddl(schema: pa.Schema) -> str:
    return ", ".join(f"`{f.name}` long" for f in schema)


@dataclass(frozen=True)
class Spec:
    corpus: str
    files: int
    rows: int
    append_rows: int = 0      # > 0: the read_append loop
    replay_parts: int = 1     # input files replayed by the traced run


SPECS = {
    "ingest_fixture_large": Spec("fixture", 2 * CORES, 234_375),
    "ingest_zipf_small": Spec("zipf", 12 * CORES, 25_000,
                              replay_parts=CORES),
    "read_append": Spec("zipf", 16, 25_000, append_rows=10_000),
}


def first_doc(seed: int) -> int:
    """The seed picks a disjoint window of doc ids (the fixture contract
    holds below 10^8)."""
    return (seed % 40) * 2_000_000


def _sum_ck(cks) -> dict:
    return {k: sum(c[k] for c in cks) for k in CK_KEYS}


def _gen_task(jobs: list[dict]):
    def fn(batches):
        from perfbench import corpus as C

        for b in batches:
            for i in b.column(0).to_pylist():
                j = jobs[i]
                ck = C.write_file(j["corpus"], j["seed"], j["start"],
                                  j["n_docs"], j["path"])
                yield pa.RecordBatch.from_pylist([{"idx": i, **ck}],
                                                 schema=_CK_SCHEMA)
    return fn


def _verify_task(corpus_name: str, seed: int, parts: list[tuple]):
    def fn(batches):
        from perfbench import corpus as C

        for b in batches:
            for i in b.column(0).to_pylist():
                path, crc = parts[i]
                yield pa.RecordBatch.from_pylist(
                    [C.verify_part(corpus_name, seed, path, crc)],
                    schema=_VERIFY_SCHEMA)
    return fn


def percentile_summary(xs: list[float]) -> str:
    """Median, plus the highest percentile with at least ten samples
    beyond it when the sample count supports one."""
    n = len(xs)
    if not n:
        return "n=0"
    out = f"p50={statistics.median(xs):.4f} max={max(xs):.4f} n={n}"
    for p in (99.9, 99, 90):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(xs, n=1000, method="inclusive")
            out += f" p{p:g}={q[int(p * 10) - 1]:.4f}"
            break
    return out


class Run:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 root: str):
        self.name, self.spec = name, SPECS[name]
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.root = root
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{name}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.round_tok_per_s: list[float] = []
        self.probe_rates: list[float] = []
        self.setup_probe_rates: list[float] = []
        self.probe = None
        self.enc_results: list[tuple[float, list[dict]]] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.bytes_per_token: float | None = None
        self.size_vs_zbra: float | None = None
        self.peak_rss_mb = 0.0
        self.spark = None
        self.ops = Tracer() if trace else None
        self.read_groups: list[list[str]] = []

    # -- bookkeeping ---------------------------------------------------
    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def _check(self, what: str, got: dict, want: dict) -> bool:
        if any(int(got[k]) != int(want[k]) for k in want):
            self._fail(f"{what}: got {got}, want {want}")
            return False
        return True

    # -- setup ---------------------------------------------------------
    def _environment(self) -> None:
        """Keep every file Spark, the JVM and the workers write inside the
        work directory, and keep the console free of progress bars."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # every JVM, the spark-submit launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        # A fixed 2 GiB driver heap (initial = max): an 8 GiB heap that
        # grows with GC timing made peak RSS swing by a third between
        # identical runs.
        os.environ["ZSEQ_DRIVER_MEM"] = "2g"
        confs = {
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"

    def _probe(self, into: list[float]) -> None:
        into.extend(self.probe.rate() for _ in range(2))

    def start(self) -> None:
        self._environment()
        self.probe = host.CpuProbe()
        self._probe(self.setup_probe_rates)
        t0 = time.perf_counter()
        from zseq.session import get_spark

        self.spark = get_spark(f"perfbench-{self.name}",
                               master=f"local[{CORES}]",
                               shuffle_partitions=CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["setup.session_s"] = time.perf_counter() - t0
        self._probe(self.setup_probe_rates)

        t0 = time.perf_counter()
        self._generate()
        self.setup["setup.generate_s"] = time.perf_counter() - t0
        self._probe(self.setup_probe_rates)

        t0 = time.perf_counter()
        tbl = pq.read_table(self.files[0])
        self.oracle_bytes0 = oracle.table_size(tbl)
        del tbl
        self.setup["setup.oracle_s"] = time.perf_counter() - t0
        if self.spec.append_rows:
            self.size_vs_zbra = (self.base_parts[0]["enc_bytes"]
                                 / self.oracle_bytes0)

        t0 = time.perf_counter()
        self._warm()
        self.setup["setup.warm_s"] = time.perf_counter() - t0
        self._probe(self.setup_probe_rates)

    def _generate(self) -> None:
        s, base = self.spec, first_doc(self.seed)
        self.input_dir = os.path.join(self.work, "input")
        jobs = [{"corpus": s.corpus, "seed": self.seed,
                 "start": base + i * s.rows, "n_docs": s.rows,
                 "path": os.path.join(self.input_dir,
                                      f"part-{i:05d}.parquet")}
                for i in range(s.files)]
        end = base + s.files * s.rows
        extra = []
        if s.append_rows:
            self.append_dir = os.path.join(self.work, "append")
            extra = [{"corpus": s.corpus, "seed": self.seed, "start": end,
                      "n_docs": s.append_rows,
                      "path": os.path.join(self.append_dir,
                                           "part-00000.parquet")}]
        alljobs = jobs + extra
        n = len(alljobs)
        rows = (self.spark.range(0, n, 1, n)
                .mapInArrow(_gen_task(alljobs), _ddl(_CK_SCHEMA)).collect())
        cks = {r["idx"]: r.asDict() for r in rows}
        if len(cks) != n:
            raise RuntimeError(f"generation returned {len(cks)} of {n}")
        self.files = [j["path"] for j in jobs]
        self.file_ck = [cks[i] for i in range(len(jobs))]
        self.expected = _sum_ck(self.file_ck)
        if s.append_rows:
            self.append_ck = cks[len(jobs)]
            self._encode_dataset()

    def _encode_dataset(self) -> None:
        """read_append: encode the base dataset and pin its revision; pick
        the doc_id range (whole input files, 1/16 of them)."""
        s = self.spec
        self.dataset = os.path.join(self.work, "dataset")
        res = encode.encode_parquet(self.spark, self.input_dir, self.dataset)
        if res.total_rows != self.expected["rows"]:
            raise RuntimeError("read_append: base encode lost rows")
        self.base_rev = res.manifest["revision"]
        self.base_parts = res.parts
        k = max(1, s.files // 16)
        a = self.seed % (s.files - k + 1)
        base = first_doc(self.seed)
        self.range_lo = synth.doc_id_str([base + a * s.rows])[0]
        self.range_hi = synth.doc_id_str([base + (a + k) * s.rows])[0]
        self.range_expected = _sum_ck(self.file_ck[a:a + k])
        self.bytes_per_token = res.total_enc_bytes / self.expected["tokens"]

    def _warm(self) -> None:
        """Run one untimed operation of each kind first: the first round
        of reads (JVM compilation) and the first full-size encode task in
        each Python worker (memory-pool growth) ran measurably slower.
        Ingest warms on one input file per core, hard-linked."""
        if self.spec.append_rows:
            for kind, fn, want, _toks in self._read_ops():
                got, _dt, _group = self._timed(f"warm-up {kind}", fn)
                if got is not None:
                    self._check(f"warm-up {kind}", got, want)
            self._rollback()
            return
        warm_in = os.path.join(self.work, "warm_in")
        os.makedirs(warm_in)
        for f in self.files[:CORES]:
            os.link(f, os.path.join(warm_in, os.path.basename(f)))
        warm_out = os.path.join(self.work, "warm_out")
        self._timed("warm-up encode", lambda: encode.encode_parquet(
            self.spark, warm_in, warm_out))
        shutil.rmtree(warm_out, ignore_errors=True)

    # -- measurement loop ----------------------------------------------
    def measure(self) -> None:
        ctx = self.ops.installed() if self.ops else nullcontext()
        with host.PeakRss() as rss, ctx:
            if self.spec.append_rows:
                self._read_append_loop()
            else:
                self._ingest_loop()
        self._probe(self.probe_rates)
        self.peak_rss_mb = rss.peak_mb

    def _ingest_loop(self) -> None:
        t_end = time.perf_counter() + self.seconds
        prev = None
        i = 0
        while True:
            out = os.path.join(self.work, f"out{i}")
            i += 1
            self._probe(self.probe_rates)
            res, dt, _group = self._timed("encode", lambda: (
                encode.encode_parquet(self.spark, self.input_dir, out)))
            if res is not None and self._ingest_checks(res, dt):
                if prev is not None:
                    shutil.rmtree(prev, ignore_errors=True)
                prev = out
            else:
                shutil.rmtree(out, ignore_errors=True)
            if time.perf_counter() >= t_end:
                break
        self.last_out = prev

    def _ingest_checks(self, res, dt: float) -> bool:
        """Record a completed encode and check it; False when it is wrong.
        Timings count every completed operation; correctness is reported
        through ``failed``."""
        self.samples["encode"].append(dt)
        self.round_tok_per_s.append(self.expected["tokens"] / dt)
        self.enc_results.append((dt, res.parts))
        got = {"rows": res.total_rows, "tokens": res.total_list_elems}
        if not self._check("encode totals", got,
                           {k: self.expected[k] for k in got}):
            return False
        bpt = res.total_enc_bytes / self.expected["tokens"]
        if self.bytes_per_token is None:
            self.bytes_per_token = bpt
            self.size_vs_zbra = (res.parts[0]["enc_bytes"]
                                 / self.oracle_bytes0)
        elif bpt != self.bytes_per_token:
            self._fail(f"encoded bytes changed between operations: {bpt} != "
                       f"{self.bytes_per_token}")
            return False
        self.last_parts = res.parts
        return True

    def _timed(self, kind: str, fn):
        """Run one operation: (result, seconds, job group), with result
        None when it raised."""
        self.attempted += 1
        group = f"{kind}-{self.attempted}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, kind)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        except Exception as e:  # the loop must go on; counted as failed
            self._fail(f"{kind}: {e!r}")
            return None, None, group
        return out, dt, group

    def _read_ops(self) -> list[tuple]:
        """(kind, operation, expected aggregates, tokens it moves)."""
        sp, ds = self.spark, self.dataset
        pred = [("doc_id", ">=", self.range_lo),
                ("doc_id", "<", self.range_hi)]
        rng = f"doc_id >= '{self.range_lo}' AND doc_id < '{self.range_hi}'"
        exp, a = self.expected, self.append_ck
        after = {"rows": exp["rows"] + a["rows"],
                 "tokens": exp["tokens"] + a["tokens"]}
        return [
            ("scan", lambda: decode.decode(sp, ds).selectExpr(*CK)
             .collect()[0].asDict(), exp, exp["tokens"]),
            ("projected_read", lambda: decode.decode(
                sp, ds, columns=["doc_id", "n_tok"]).selectExpr(
                    "count(*) AS rows", "sum(n_tok) AS tokens")
             .collect()[0].asDict(),
             {k: exp[k] for k in ("rows", "tokens")}, 0),
            ("range_read", lambda: decode.decode(sp, ds, predicate=pred)
             .filter(rng).selectExpr(*CK).collect()[0].asDict(),
             self.range_expected, self.range_expected["tokens"]),
            ("append", self._append, after, a["tokens"]),
        ]

    def _read_append_loop(self) -> None:
        ops = self._read_ops()
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end:
            self._probe(self.probe_rates)
            round_s, round_tok, done, groups = 0.0, 0, True, []
            for kind, fn, want, toks in ops:
                got, dt, group = self._timed(kind, fn)
                groups.append(group)
                if got is None:
                    done = False
                    continue
                self._check(kind, got, want)
                self.samples[kind].append(dt)
                if kind == "append":
                    self.enc_results.append((dt, self.last_append))
                round_s += dt
                round_tok += toks
            self._rollback()
            if done:
                self.round_tok_per_s.append(round_tok / round_s)
                self.read_groups.append(groups[:3])

    def _append(self) -> dict:
        res = encode.encode_parquet(self.spark, self.append_dir,
                                    self.dataset, append=True)
        self.last_append = [p for p in res.parts
                            if p["part_id"] >= len(self.base_parts)]
        t = res.manifest["totals"]
        return {"rows": t["rows"], "tokens": t["list_elems"]}

    def _rollback(self) -> None:
        try:
            encode.rollback(self.dataset, self.base_rev)
        except Exception as e:  # later rounds would read the wrong data
            self._fail(f"rollback: {e!r}")
            raise

    # -- once-per-run checks -------------------------------------------
    def verify(self) -> None:
        """Untimed: every committed part decoded in process through
        ZseqReader and compared bit for bit; size at or below zbra."""
        if self.spec.append_rows:
            parts = self.base_parts + getattr(self, "last_append", [])
            d = self.dataset
            want_rows = self.expected["rows"] + (
                self.append_ck["rows"] if len(parts) > len(self.base_parts)
                else 0)
        else:
            parts = getattr(self, "last_parts", [])
            d = self.last_out
            want_rows = self.expected["rows"]
        self.attempted += 1
        if not parts:
            self._fail("verify: no committed output to check")
            return
        todo = [(os.path.join(d, p["file"]), p["crc32"]) for p in parts]
        n = len(todo)
        try:
            rows = (self.spark.range(0, n, 1, n)
                    .mapInArrow(_verify_task(self.spec.corpus, self.seed,
                                             todo), _ddl(_VERIFY_SCHEMA))
                    .collect())
        except Exception as e:
            self._fail(f"verify: {e!r}")
            return
        got = sum(r["rows"] for r in rows)
        bad = sum(r["bad_rows"] for r in rows)
        if bad or got != want_rows:
            self._fail(f"verify: {bad} rows differ, {got} of {want_rows} "
                       "rows decoded")
        elif self.size_vs_zbra is None or self.size_vs_zbra > 1:
            self._fail(f"size_vs_zbra {self.size_vs_zbra} > 1")

    def host_controls(self) -> None:
        self.attempted += 1
        try:
            self.layer.update(host.kernel_control())
        except ValueError as e:  # a wrong decode is a failure, not a crash
            self._fail(repr(e))
        self.layer.update(host.fsync_probe(
            os.path.join(self.work, "fsync_probe.bin")))

    # -- traced replay ---------------------------------------------------
    def _replay_encode(self, paths: list[str], tracer: Tracer | None):
        """The encode task body (zseq.encode._encode_files) in process:
        pyarrow read, select + cast, then _encode_table_to_file."""
        span = tracer.span if tracer else (lambda _n: nullcontext())
        out = os.path.join(self.work, "replay_enc")
        os.makedirs(out, exist_ok=True)
        schema = pq.read_schema(paths[0])
        walls = []
        for i, path in enumerate(paths):
            if tracer:
                tracer.request = f"encode:{os.path.basename(path)}"
            t0 = time.perf_counter()
            with span("encode.task"):
                with span("encode.parquet_read"):
                    tbl = pq.read_table(path, use_threads=False)
                if schema.names != tbl.schema.names:
                    tbl = tbl.select(schema.names)
                tbl = tbl.cast(schema)
                encode._encode_table_to_file(tbl, out, i, schema, True,
                                             BATCH_ROWS, time.time())
            walls.append(time.perf_counter() - t0)
            del tbl
        shutil.rmtree(out, ignore_errors=True)
        return walls

    def _replay_reads(self, tracer: Tracer | None) -> dict:
        """The decode task body (crc, then ZseqReader.batches) in process,
        for one round of reads: scan, projected, range."""
        span = tracer.span if tracer else (lambda _n: nullcontext())
        parts = self.base_parts
        pred = [("doc_id", ">=", self.range_lo),
                ("doc_id", "<", self.range_hi)]
        kinds = [("scan", parts, None, None),
                 ("projected_read", parts, ["doc_id", "n_tok"], None),
                 ("range_read", zseqfile.prune_parts(parts, pred), None,
                  pred)]
        res = {"out_bytes": 0, "blocks_read": 0, "blocks_skipped": 0,
               "scan_work_s": 0.0, "wall_s": 0.0}
        t_all = time.perf_counter()
        for kind, ps, cols, p in kinds:
            for part in ps:
                if tracer:
                    tracer.request = f"{kind}:{part['file']}"
                t0 = time.perf_counter()
                with span("decode.task"):
                    path = os.path.join(self.dataset, part["file"])
                    with open(path, "rb") as f:
                        buf = f.read()
                    zseqfile.check_crc(buf, part["crc32"], path)
                    r = zseqfile.ZseqReader(buf)
                    it = r.batches(cols, p)
                    if tracer:
                        it = tracer.iterate("zseqfile.read", it)
                    for b in it:
                        res["out_bytes"] += b.nbytes
                res["blocks_read"] += r.blocks_read
                res["blocks_skipped"] += r.blocks_skipped
                if kind == "scan":
                    res["scan_work_s"] += time.perf_counter() - t0
        res["wall_s"] = time.perf_counter() - t_all
        return res

    def replay(self) -> None:
        """Traced run only: replay task bodies untraced, then traced, and
        turn the spans into per-layer metrics."""
        pa_cpu, pa_io = pa.cpu_count(), pa.io_thread_count()
        pa.set_cpu_count(1)  # the same pinning as the Spark task body
        pa.set_io_thread_count(2)
        try:
            self._replay_all()
        finally:
            pa.set_cpu_count(pa_cpu)
            pa.set_io_thread_count(pa_io)

    def _replay_all(self) -> None:
        L = self.layer
        s = self.spec
        paths = ([self.append_dir + "/part-00000.parquet"] if s.append_rows
                 else self.files[:s.replay_parts])
        enc, dec = Tracer(), Tracer()
        # the first pass warms this process (allocator, page cache), so
        # the untraced and traced passes compared below are both warm
        self._replay_encode(paths, None)
        plain = self._replay_encode(paths, None)
        with enc.installed():
            traced = self._replay_encode(paths, enc)
        plain_s, traced_s = sum(plain), sum(traced)
        k = len(paths)
        L["encode.parquet_read_s"] = enc.total_s["encode.parquet_read"] / k
        L["encode.cluster_s"] = enc.total_s["encode.cluster"] / k
        L["encode.fsync_s"] = enc.total_s["encode.fsync"] / k
        L["encode.self_s"] = enc.self_s["encode.task"] / k
        L["zseqfile.write_self_s"] = enc.self_s["zseqfile.write"] / k
        L["column.encode_self_s"] = enc.self_s["column.encode"] / k
        L["select.int_select_s"] = enc.total_s["select.int_select"] / k
        L["select.calls"] = enc.calls["select.int_select"] / k
        L["intcodecs.encode_self_s"] = enc.self_s["intcodecs.encode"] / k
        L["primitives.pack_s"] = enc.total_s["primitives.pack"] / k
        L["bytescodecs.encode_self_s"] = enc.self_s["bytescodecs.encode"] / k
        L["bytescodecs.zstd_compress_s"] = (
            enc.total_s["bytescodecs.zstd_compress"] / k)
        for key, v in enc.counts.items():
            L[key] = v / k

        # Spark session residual of the encode jobs: job wall minus the
        # replayed (untraced) task work spread over the cores it can use
        per_task = plain_s / k
        if self.enc_results:
            tasks = len(self.enc_results[-1][1])
            job_s = statistics.median(w for w, _p in self.enc_results)
            busy = [sum(p["wall_sec"] for p in parts) / (CORES * w)
                    for w, parts in self.enc_results]
            L["session.job_s"] = job_s
            L["session.tasks"] = tasks
            L["session.busy_frac"] = statistics.median(busy)
            L["session.residual_s"] = (job_s - per_task * tasks
                                       / min(CORES, tasks))

        o = self.ops
        njobs = max(1, len(self.enc_results))
        L["encode.read_manifest_s"] = (
            o.total_s["encode.read_manifest"] / njobs)
        L["encode.gc_s"] = o.total_s["encode.gc"] / njobs
        if s.append_rows:
            L["encode.append_commit_s"] = (
                o.total_s["encode.append_commit"]
                / max(1, o.calls["encode.append_commit"]))
            with open(os.path.join(self.dataset, "manifest.json"),
                      "rb") as f:
                L["encode.manifest_bytes"] = len(f.read())
        else:
            with open(os.path.join(self.last_out, "manifest.json"),
                      "rb") as f:
                L["encode.manifest_bytes"] = len(f.read())

        if s.append_rows:
            self._replay_reads(None)
            plain_r = self._replay_reads(None)
            with dec.installed():
                traced_r = self._replay_reads(dec)
            plain_s += plain_r["wall_s"]
            traced_s += traced_r["wall_s"]
            L["zseqfile.read_self_s"] = dec.self_s["zseqfile.read"]
            L["zseqfile.crc_s"] = dec.total_s["zseqfile.crc"]
            L["zseqfile.blocks_read"] = traced_r["blocks_read"]
            L["zseqfile.blocks_skipped"] = traced_r["blocks_skipped"]
            L["column.decode_self_s"] = dec.self_s["column.decode"]
            L["intcodecs.decode_self_s"] = dec.self_s["intcodecs.decode"]
            L["primitives.unpack_s"] = dec.total_s["primitives.unpack"]
            L["bytescodecs.decode_self_s"] = dec.self_s["bytescodecs.decode"]
            L["bytescodecs.zstd_decompress_s"] = (
                dec.total_s["bytescodecs.zstd_decompress"])
            L["decode.plan_s"] = (o.total_s["decode.plan"]
                                  / max(1, o.calls["decode.plan"]))
            prunes = max(1, o.calls["zseqfile.prune_parts"])
            L["decode.parts_total"] = o.counts["decode.parts_total"] / prunes
            L["decode.parts_read"] = o.counts["decode.parts_read"] / prunes
            fetched = [self._input_bytes(g) for g in self.read_groups]
            fetched = [b for b in fetched if b]
            if fetched:
                L["decode.fetched_bytes_per_out_byte"] = (
                    statistics.median(fetched) / plain_r["out_bytes"])
            scan = self.samples["scan"]
            if scan:
                L["decode.residual_s"] = (
                    statistics.median(scan) - plain_r["scan_work_s"]
                    / min(CORES, len(self.base_parts)))
        L["trace.overhead_frac"] = traced_s / plain_s - 1
        enc.dump(os.path.join(self.root, ".perfbench_out",
                              f"{self.name}-{self.seed}-encode.jsonl"))
        dec.dump(os.path.join(self.root, ".perfbench_out",
                              f"{self.name}-{self.seed}-decode.jsonl"))
        o.dump(os.path.join(self.root, ".perfbench_out",
                            f"{self.name}-{self.seed}-driver.jsonl"))

    def _input_bytes(self, groups: list[str]) -> int:
        """Spark's own scan input-bytes task metric, summed over the
        stages of the given job groups (from the Spark driver's status REST
        API on localhost)."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        port = sc.uiWebUrl.rsplit(":", 1)[1] if sc.uiWebUrl else None
        if port is None:
            return 0
        url = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{sc.applicationId}/stages/")
        total = 0
        for g in groups:
            for job in st.getJobIdsForGroup(g):
                info = st.getJobInfo(job)
                for sid in (info.stageIds if info else []):
                    total += self._stage_input_bytes(url + str(sid))
        return total

    @staticmethod
    def _stage_input_bytes(url: str) -> int:
        # the status store is filled from the listener bus, shortly after
        # the job returns
        for _ in range(40):
            with urllib.request.urlopen(url, timeout=5) as r:
                attempts = json.load(r)
            done = [a for a in attempts
                    if a.get("status") in ("COMPLETE", "SKIPPED")]
            if done:
                return int(done[-1].get("inputBytes", 0))
            time.sleep(0.05)
        return 0

    # -- results -------------------------------------------------------
    @staticmethod
    def host_speed(rates: list[float]) -> float:
        """Host speed in a phase, relative to the reference."""
        return max(rates) / REF_PROBE_RATE

    def end_to_end(self) -> dict:
        return {
            "setup_s": (sum(self.setup.values())
                        * self.host_speed(self.setup_probe_rates)),
            "tok_per_s": (statistics.median(self.round_tok_per_s)
                          / self.host_speed(self.probe_rates)),
            "bytes_per_token": self.bytes_per_token,
            "size_vs_zbra": self.size_vs_zbra,
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self, names: list[str]) -> dict:
        L = dict(self.layer)
        L.update(self.setup)
        L["trace.tok_per_s"] = statistics.median(self.round_tok_per_s)
        for kind in ("encode", "scan", "projected_read", "range_read",
                     "append"):
            xs = self.samples.get(kind)
            L[f"trace.{kind}_s"] = statistics.median(xs) if xs else 0.0
        return {n: float(L.get(n, 0.0)) for n in names}

    def report_lines(self) -> list[str]:
        lines = [f"workload {self.name} seed={self.seed} cores={CORES} "
                 f"files={self.spec.files} rows_per_file={self.spec.rows} "
                 f"trace={int(self.trace)}",
                 "host speed: set-up "
                 f"{self.host_speed(self.setup_probe_rates):.4f}, loop "
                 f"{self.host_speed(self.probe_rates):.4f} of reference; "
                 f"before scaling: setup_s {sum(self.setup.values()):.6g}, "
                 f"tok_per_s {statistics.median(self.round_tok_per_s):.6g}"]
        for kind, xs in self.samples.items():
            lines.append(f"op {kind}_s: {percentile_summary(xs)}")
            lines.append(f"samples {kind}_s: "
                         + " ".join(f"{x:.4f}" for x in xs))
        lines.append("samples setup_probe_rate: " + " ".join(
            f"{x:.2f}" for x in self.setup_probe_rates))
        lines.append("samples probe_rate: "
                     + " ".join(f"{x:.2f}" for x in self.probe_rates))
        for k, v in sorted({**self.setup, **self.layer}.items()):
            lines.append(f"layer {k} = {v:.6g}")
        for e in self.errors:
            lines.append(f"FAILED {e}")
        return lines

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run's work directory is still there
