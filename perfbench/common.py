"""Shared plumbing: checkout-local directories, process accounting, stats."""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def repo_on_path() -> None:
    """Make the package under test importable from the checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def make_workdir(workload: str, seed: int) -> str:
    """A fresh working directory inside the checkout. Temporary files of this
    process and of every process it starts (Spark's JVM, its Python workers,
    the load generator) go below it, so a run writes nowhere else."""
    path = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    tmp = os.path.join(path, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # A small, fixed footprint: the machine may be shared.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 4)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def _descendants(pid: int, excluded=frozenset()) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p in excluded:
            continue
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendants() -> list[int]:
    """Live descendant processes of this one."""
    return _descendants(os.getpid())[1:]


def wait_ended(pids: list[int], timeout_s: float) -> None:
    """Wait until every process in `pids` has exited (or is a zombie)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except (OSError, IndexError):
                continue
            if state not in ("Z", "X"):
                alive.append(pid)
        if not alive:
            return
        pids = alive
        time.sleep(0.1)
    raise TimeoutError(f"processes still running after {timeout_s} s: {pids}")


def process_tree_usage(excluded=frozenset()) -> tuple[float, float]:
    """(peak RSS in MB summed over this process and its live descendants,
    CPU seconds of the same set), leaving out the `excluded` subtrees. The
    JVM and Spark's Python workers are descendants of this process, so they
    are counted while they run."""
    tick = os.sysconf("SC_CLK_TCK")
    rss_kb = 0
    cpu = 0.0
    for pid in _descendants(os.getpid(), excluded):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        rss_kb += int(line.split()[1])
                        break
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            cpu += (int(fields[11]) + int(fields[12])) / tick
        except (OSError, IndexError, ValueError):
            continue
    return rss_kb / 1024.0, cpu


def percentile(values, p: float) -> float:
    """Nearest-rank percentile, `p` in [0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return float(s[k])


class Stopwatch:
    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
