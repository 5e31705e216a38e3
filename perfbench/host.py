"""Host-side measurements that are not part of the engine: peak memory of
the whole process tree, and controls that tell a slow host from a slow
engine."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the driver,
    the JVM it launched and the JVM's Python workers."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS on a background thread; use as a
    context manager so the thread is always joined."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def kernel_control(n_docs: int = 40_000) -> dict:
    """Single-core codec kernel on a fixed F0 chunk: zseqfile.encode_table
    and decode_table in this process, no Spark. The chunk never changes,
    so a swing here is the host, not the engine."""
    import pyarrow.compute as pc

    from zseq import synth, zseqfile

    tbl = synth.tokens_table_arrow(n_docs)
    toks = int(pc.sum(tbl.column("n_tok")).as_py())
    t0 = time.perf_counter()
    buf = zseqfile.encode_table(tbl)
    t_enc = time.perf_counter() - t0
    t0 = time.perf_counter()
    back = zseqfile.decode_table(buf)
    t_dec = time.perf_counter() - t0
    if not back.equals(tbl):
        raise ValueError("kernel control: decode differs from input")
    return {"host.kernel_encode_tok_per_s": toks / t_enc,
            "host.kernel_decode_tok_per_s": toks / t_dec}


def fsync_probe(path: str, mb: int = 16) -> dict:
    """Write ``mb`` MiB and fsync: the disk bandwidth encode tasks see
    when they make a part durable."""
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    dt = time.perf_counter() - t0
    os.remove(path)
    return {"host.fsync_write_mb_per_s": mb * (1 << 20) / 1e6 / dt}


class CpuProbe:
    """A fixed job that runs no engine code but does the engine's kind of
    work on one core: shifts and masks, a prefix sum and a gather over a
    16 MiB int32 array, and a zstd decompression. Its rate tracks how fast
    the host is running this process (about 0.1 s per call)."""

    def __init__(self):
        import numpy as np
        import pyarrow as pa

        rng = np.random.default_rng(0)
        self._a = rng.integers(0, 1 << 17, 1 << 22, dtype=np.int32)
        raw = rng.integers(0, 50, 1 << 21, dtype=np.int32).tobytes()
        self._zstd = pa.Codec("zstd", compression_level=3)
        self._comp = self._zstd.compress(raw, asbytes=True)
        self._raw_len = len(raw)
        self.rate()  # pays the first-touch page faults: not a sample

    def rate(self) -> float:
        """Probe jobs per second."""
        import numpy as np

        t0 = time.perf_counter()
        a = self._a
        x = (a >> 3) & 0x1FFF
        y = np.cumsum(x, dtype=np.int64)
        np.take(a, y & (a.size - 1))
        self._zstd.decompress(self._comp, decompressed_size=self._raw_len,
                              asbytes=True)
        return 1.0 / (time.perf_counter() - t0)
