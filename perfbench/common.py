"""Shared pieces of the benchmark: run isolation, the Spark session, the
seeded input generator, result hashing, latency statistics, the
process-tree RSS sampler and the closed-loop op recorder.

Nothing here imports pyspark at module load, so the self-tests run
without a JVM.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
OUT_DIR = os.path.join(WORK_ROOT, "out")

# The engine files the benchmark drives; without them it cannot run.
REQUIRED = (
    "iceberg_twist_spark/__init__.py",
    "iceberg_twist_spark/registry.py",
    "tools/gen_sf.py",
    "tools/check.py",
    "bench.py",
)

# Spark task slots: at most 3, and one core fewer than the machine has,
# so the driver, the JVM's own threads and the Python workers are not
# queued behind the tasks (on 4 cores this made pass-to-pass latency of
# the same corpus op vary half as much as local[4], and no slower).
SPARK_CORES = 3
DRIVER_MEMORY = "2g"
TAIL_BEYOND = 10


def missing_engine_files() -> list[str]:
    return [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]


# ---------------------------------------------------------------- isolation
def isolate(tag: str) -> str:
    """Give this run a fresh temp dir and Spark local dir inside the
    checkout (the engine caches indexes and staged fixtures in the temp
    dir across processes, keyed by data fingerprint). Returns the run
    dir; ``cleanup_run_dir`` removes it."""
    run_dir = os.path.join(WORK_ROOT, f"run-{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "data", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on the next gettempdir()
    return run_dir


def cleanup_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when empty (no other run, no out/)
    except OSError:
        pass


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every live descendant, from /proc. Time the host takes
    away from a vCPU (steal) and time a thread waits on I/O are charged
    to no process, so neither counts here, unlike in wall time."""
    total = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak RSS of this process plus every descendant (JVM, Python
    workers), sampled from /proc every ``period`` seconds while on."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self.peak_parts: list[int] = []  # MB per process at the peak
        self.cpu_s = 0.0  # CPU this sampler's thread spent sampling
        self._on = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> int:
        me = os.getpid()
        kids = _children_map()
        parts, todo = [(me, _rss_bytes(me))], [me]
        while todo:
            parent = todo.pop()
            pcmd = _cmdline(parent)
            for c in kids.get(parent, []):
                todo.append(c)
                # a child the JVM has forked but not yet exec'd (to start a
                # Python worker) shares all the JVM's pages: not counted
                if not (pcmd.split(b"\0")[0].endswith(b"java") and _cmdline(c) == pcmd):
                    parts.append((c, _rss_bytes(c)))
        total = sum(b for _, b in parts)
        if self._on and total > self.peak:
            self.peak = total
            self.peak_parts = sorted((b >> 20 for _, b in parts), reverse=True)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            if self._on:
                t0 = time.thread_time()
                self.sample()
                self.cpu_s += time.thread_time() - t0

    def start(self) -> None:
        self._on = True
        self.sample()

    def pause(self) -> None:
        self.sample()
        self._on = False

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_tree(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGKILL whatever is left at the
    deadline and wait again."""

    def alive() -> list[int]:
        out = []
        for p in pids:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(p)
            except OSError:
                pass
        return out

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive():
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 5
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)


# ------------------------------------------------------------------- spark
def start_spark(run_dir: str):
    """The engine's own session builder, with the load shape's fixed
    knobs: local[N], a driver heap of at most 2g, and every scratch
    path inside the run dir."""
    cores = max(1, min(SPARK_CORES, len(os.sched_getaffinity(0)) - 1))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    from iceberg_twist_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "work", "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_spark(spark) -> None:
    """Stop the session, end the JVM gateway and wait for the whole
    process tree it started."""
    from pyspark import SparkContext

    tree = descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        stop_tree(tree)


# ------------------------------------------------------------------ inputs
def generate(spark, out_dir: str, seed: int, sf: float, corpus_sf: float | None,
             tables: tuple[str, ...] | None = None) -> float:
    """Write the seeded scale-factor twin (tools/gen_sf.gen_tables) for
    ``seed``; returns the seconds it took. Tables are written
    concurrently: each is a handful of small jobs."""
    from concurrent.futures import ThreadPoolExecutor

    from tools import gen_sf

    t0 = time.perf_counter()
    gen_sf.SEED = seed  # read at expression-build time
    built = gen_sf.gen_tables(spark, sf, None, corpus_sf)
    todo = [(n, df, k) for n, (df, k) in built.items() if tables is None or n in tables]

    def write(item):
        name, df, n_files = item
        # same file count as tools/gen_sf.py, without a shuffle when the
        # generator's partitions can simply be merged
        if n_files <= df.rdd.getNumPartitions():
            df = df.coalesce(n_files)
        else:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))

    with ThreadPoolExecutor(4) as pool:
        list(pool.map(write, todo))
    return time.perf_counter() - t0


# ----------------------------------------------------------------- results
def _fold(v):
    """Python-equality classes to one representation, so a hash of
    canonical rows equals exactly when ``tools/check.py``'s canonical
    compare does (True == 1, 3.0 == 3, -0.0 == 0.0)."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isfinite(v) and v == int(v):
            return int(v)
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_fold(x) for x in v)
    return v


def result_hash(columns, rows) -> str:
    """SHA-256 of a result in tools/check.py canonical form: columns
    sorted by name, cells normalized, rows sorted."""
    from tools.check import _canon

    canon = [_fold(t) for t in _canon([tuple(r) for r in rows], list(columns))]
    canon.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return hashlib.sha256(repr((sorted(columns), canon)).encode()).hexdigest()


# -------------------------------------------------------------- statistics
def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n): the value at the highest nearest-rank
    percentile that still has at least ``beyond`` samples above it. With
    ``beyond`` or fewer samples no percentile qualifies and the maximum
    is returned (percentile 100)."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - 1 - beyond
    if k < 0:
        return s[-1], 100.0, n
    return s[k], 100.0 * (k + 1) / n, n


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ closed loop
@dataclass
class OpRecord:
    name: str
    kind: str  # "read" | "write"
    latency: float
    ok: bool
    error: str | None = None
    raised: bool = False
    layers: dict = field(default_factory=dict)
    cpu: float = 0.0  # process-tree CPU seconds the call took


@dataclass
class Recorder:
    """Timed ops of one run, in order."""

    ops: list[OpRecord] = field(default_factory=list)
    # process-tree CPU seconds so far (tree_cpu_s less the RSS sampler's
    # own); None leaves OpRecord.cpu at 0
    cpu_clock: Callable[[], float] | None = None
    # ops of the fixed replays every run makes (corpus passes, lakehouse
    # episodes); cpu_per_op_s is taken over these only, so a faster
    # engine that fits more replays into --seconds (later replays run
    # warmer, on less CPU) does not also gain from that. None: all ops.
    fixed_ops: int | None = None

    def add(self, rec: OpRecord) -> None:
        self.ops.append(rec)
        status = "ok" if rec.ok else f"FAILED {rec.error or 'result differs from reference'}"
        print(f"#   {rec.kind:5s} {rec.name:34s} {rec.latency:8.3f}s {rec.cpu:6.2f} CPU-s  "
              f"{status}", file=sys.stderr, flush=True)

    def latencies(self, kind: str) -> list[float]:
        return [o.latency for o in self.ops if o.kind == kind]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    def summary(self) -> dict:
        """The end-to-end figures every workload reports (plus the write
        figures, zero when a workload has no writes)."""
        completed = [o for o in self.ops if not o.raised]
        wall = sum(o.latency for o in self.ops)
        reads, writes = self.latencies("read"), self.latencies("write")
        rt, rt_pct, rt_n = tail(reads)
        wt, wt_pct, wt_n = tail(writes)
        return {
            "ops_per_s": len(completed) / wall if wall else 0.0,
            "cpu_per_op_s": _mean_cpu(self.ops[:self.fixed_ops]),
            "read_p50_s": p50(reads),
            "read_tail_s": rt,
            "read_tail_pct": rt_pct,
            "read_n": rt_n,
            "write_p50_s": p50(writes),
            "write_tail_s": wt,
            "write_tail_pct": wt_pct,
            "write_n": wt_n,
            "failed_frac": self.failed / self.attempted if self.attempted else 0.0,
            "timed_wall_s": wall,
        }


def _mean_cpu(ops: list[OpRecord]) -> float:
    return sum(o.cpu for o in ops) / len(ops) if ops else 0.0


def run_op(rec: Recorder, name: str, kind: str, call, check, after=None) -> OpRecord:
    """One closed-loop op: ``call()`` is timed and returns the value the
    untimed ``check(value)`` judges. An exception counts as a failed op.
    ``after(latency)``, when given, runs between the two and returns the
    op's per-layer figures (traced runs)."""
    clock = rec.cpu_clock or (lambda: 0.0)
    c0 = clock()
    t0 = time.perf_counter()
    try:
        value = call()
    except Exception as exc:  # noqa: BLE001
        r = OpRecord(name, kind, time.perf_counter() - t0, False,
                     f"{type(exc).__name__}: {str(exc)[:200]}", raised=True,
                     cpu=clock() - c0)
        rec.add(r)
        return r
    latency = time.perf_counter() - t0
    cpu = clock() - c0
    layers = after(latency) if after is not None else {}
    try:
        ok = bool(check(value))
        err = None
    except Exception as exc:  # noqa: BLE001
        ok, err = False, f"check raised {type(exc).__name__}: {str(exc)[:200]}"
    r = OpRecord(name, kind, latency, ok, err, layers=layers, cpu=cpu)
    rec.add(r)
    return r


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
