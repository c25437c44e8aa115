"""Where the engine's CPU goes: the driver JVM's threads by role, plus
the Python workers it started.

The JVM names its threads, and Linux keeps the first 15 characters of
each name in ``/proc/<pid>/task/<tid>/stat``. Those names sort the
threads into groups:

- ``jit_c2`` / ``jit_c1``: the C2 and C1 compiler threads;
- ``gc``: G1's parallel and concurrent GC threads;
- ``task``: the executor's task launch workers (in ``local[N]`` the
  driver JVM runs the tasks);
- ``py4j``: the threads that serve the driver's Python calls into the
  JVM, one per Python thread. The JVM gives them its default names,
  ``Thread-N``; in a ``perfbench`` corpus run every ``Thread-N`` that
  spent more than 3 ms of CPU was one, and ``Thread-3``, the main
  Python thread's, spent more than any task thread;
- ``other``: every other thread (the scheduler, the VM thread, ...);
- ``exited``: CPU that threads spent after they were last seen; it
  stays in the process total but no longer has a name. While a query
  runs, the threads are sampled every ``_POLL_S`` seconds, so a thread
  that exits (HotSpot's on-demand compiler threads do) keeps its CPU
  up to its last sample in its own group;
- ``python_workers``: the JVM's child processes (the PySpark daemon and
  the workers it forks), reaped children included.

Values are CPU-seconds (user + system) from ``/proc``, at the kernel's
clock-tick resolution. Linux only.

    python -m iceberg_twist_spark.runstats <query_id> [sf_dir]

runs one registered query in a fresh session and prints the split of
the session's start and of the query's run (``sf_dir`` defaults to
``$SPARK_GRAFT_SF_DIR``, as for ``bench.py``).
"""

from __future__ import annotations

import os
import sys
import threading
import time
from typing import Callable, TypeVar

GROUPS = ("jit_c2", "jit_c1", "gc", "task", "py4j", "other", "exited", "python_workers")
_THREAD_GROUPS = GROUPS[:-2]  # the groups a live thread can be in

_POLL_S = 0.2  # thread sampling period while a measured call runs

# 15-character thread-name prefixes, as /proc truncates them
_PREFIXES = (
    ("C2 CompilerThre", "jit_c2"),
    ("C1 CompilerThre", "jit_c1"),
    ("GC Thread#", "gc"),
    ("G1 ", "gc"),
    ("Executor task l", "task"),
    ("Thread-", "py4j"),
)

T = TypeVar("T")


def classify(name: str) -> str:
    """The group of a JVM thread, from its (truncated) name."""
    for prefix, group in _PREFIXES:
        if name.startswith(prefix):
            return group
    return "other"


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, the fields after it) of a ``/proc`` stat file. The name
    sits in parentheses and may itself hold spaces or parentheses."""
    with open(path) as f:
        raw = f.read()
    head, _, tail = raw.rpartition(")")
    return head.split("(", 1)[1], tail.split()


def _ticks(fields: list[str], reaped: bool = False) -> int:
    # fields[0] is the state (stat field 3): utime and stime are stat
    # fields 14 and 15, cutime and cstime 16 and 17
    return sum(int(x) for x in fields[11 : 15 if reaped else 13])


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat(f"/proc/{entry}/stat")[1][1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _sample(pid: int) -> tuple[int, dict[int, tuple[str, int]]]:
    """(process total, {tid: (group, ticks)} of the live threads) of
    JVM ``pid``."""
    total = _ticks(_stat(f"/proc/{pid}/stat")[1])
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread exited while listing
            continue
        threads[int(tid)] = (classify(name), _ticks(fields))
    return total, threads


def _workers(pid: int) -> int:
    """Ticks of JVM ``pid``'s descendant processes, reaped children
    included."""
    ticks = 0
    for child in _descendants(pid):
        try:
            ticks += _ticks(_stat(f"/proc/{child}/stat")[1], reaped=True)
        except OSError:
            continue
    return ticks


def _split(samples: list, workers: int = 0) -> dict[str, float]:
    """CPU-seconds per group over a sequence of ``_sample``s, the first
    the baseline and the last the end. Each thread counts the ticks it
    gained between the first sample and the last one it appears in,
    under the group it had there; the process ticks no live or sampled
    thread accounts for are ``exited``. ``workers``: the Python worker
    ticks spent meanwhile."""
    (t0, th0), (t1, _) = samples[0], samples[-1]
    last: dict[int, tuple[str, int]] = {}
    for _, threads in samples:
        last.update(threads)
    out = dict.fromkeys(GROUPS, 0)
    for tid, (group, ticks) in last.items():
        out[group] += ticks - th0.get(tid, (group, 0))[1]
    out["exited"] = (t1 - t0) - sum(out[g] for g in _THREAD_GROUPS)
    out["python_workers"] = workers
    hz = os.sysconf("SC_CLK_TCK")
    return {g: v / hz for g, v in out.items()}


def jvm_pid(spark) -> int:
    """The pid of the session's JVM, asked of the JVM itself."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def thread_cpu(spark) -> dict[str, float]:
    """CPU-seconds per group (``GROUPS``) that the session's JVM and
    its Python workers have spent since the JVM started."""
    pid = jvm_pid(spark)
    return _split([(0, {}), _sample(pid)], _workers(pid))


def thread_cpu_during(spark, fn: Callable[[], T]) -> tuple[T, dict[str, float]]:
    """``fn()``'s result and the CPU-seconds per group spent while it
    ran. Each thread is compared with itself, and a background thread
    samples the JVM's threads every ``_POLL_S`` seconds meanwhile, so a
    thread that exits during ``fn`` takes into ``exited`` only the CPU
    it spent after its last sample."""
    pid = jvm_pid(spark)
    w0 = _workers(pid)
    samples = [_sample(pid)]
    done = threading.Event()

    def poll() -> None:
        while not done.wait(_POLL_S):
            samples.append(_sample(pid))

    poller = threading.Thread(target=poll, name="runstats-poll", daemon=True)
    poller.start()
    try:
        out = fn()
    finally:
        done.set()
        poller.join()
    samples.append(_sample(pid))
    return out, _split(samples, _workers(pid) - w0)


def _print_split(label: str, split: dict[str, float]) -> None:
    cells = "  ".join(f"{g}={split[g]:.2f}" for g in GROUPS)
    print(f"{label:8s} total={sum(split.values()):.2f}  {cells}")


def main(argv: list[str]) -> int:
    if not argv or len(argv) > 2:
        print("usage: python -m iceberg_twist_spark.runstats <query_id> [sf_dir]",
              file=sys.stderr)
        return 2
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("runstats: give sf_dir or set SPARK_GRAFT_SF_DIR", file=sys.stderr)
        return 2
    from iceberg_twist_spark.registry import REGISTRY, _load_all_modules
    from iceberg_twist_spark.session import get_spark

    _load_all_modules()
    if argv[0] not in REGISTRY:
        print(f"runstats: no registered query {argv[0]!r}", file=sys.stderr)
        return 2
    spark = get_spark("runstats", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        _print_split("session", thread_cpu(spark))
        t0 = time.perf_counter()
        rows, split = thread_cpu_during(
            spark, lambda: len(REGISTRY[argv[0]].builder(spark, sf_dir).collect())
        )
        print(f"# {argv[0]}: {rows} rows in {time.perf_counter() - t0:.2f} s wall")
        _print_split("query", split)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
