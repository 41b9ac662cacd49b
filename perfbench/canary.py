"""Host canaries recorded with every run, as diagnostics (not metrics).

Re-implemented after ``graft.Bench``: a fixed single-threaded spin loop
(its wall time inflates with CPU contention), an fsync'd write and a
read-back of a fixed file (MB/s; a low write with a high read is the
contended-storage signature) and the ``/proc/stat`` user / steal / iowait
shares over the engine's run. A contended run then carries its own evidence.
"""
import os
import time

SPIN_ITERS = 1_000_000
IO_MB = 32


def spin_ms():
    t0 = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    m = (1 << 64) - 1
    for _ in range(SPIN_ITERS):
        x ^= (x << 13) & m
        x ^= x >> 7
        x ^= (x << 17) & m
    return round((time.perf_counter() - t0) * 1e3, 1)


def io_mbs(d):
    """(fsync'd write MB/s, read-back MB/s) of an IO_MB file in `d`."""
    path = os.path.join(d, "canary.bin")
    block = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(IO_MB):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    w = time.perf_counter() - t0
    t1 = time.perf_counter()
    with open(path, "rb") as f:
        while f.read(1 << 20):
            pass
    r = time.perf_counter() - t1
    os.remove(path)
    return round(IO_MB / w, 1), round(IO_MB / r, 1)


def cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_shares(a, b):
    """Percent of all jiffies between two cpu_ticks() readings."""
    d = [max(0, y - x) for x, y in zip(a, b)]
    total = max(1, sum(d))
    return {"user": round(100 * d[0] / total, 1), "iowait": round(100 * d[4] / total, 1),
            "steal": round(100 * d[7] / total, 1) if len(d) > 7 else 0.0}
