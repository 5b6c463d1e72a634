"""Host-derived session sizing, the host fingerprint recorded with every
result, and the python-worker memory sampler."""

from __future__ import annotations

import hashlib
import os
import signal
import threading
import time

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
RSS_SAMPLE_S = 0.25   # a pipeline run lasts 10+ s
PROCESS_WAIT_S = 15.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def size_session() -> dict:
    """Set the session-sizing variables ``plans.session.build_session``
    reads from the host instead of its constants: all cores, and a quarter
    of physical memory for the driver JVM (in local mode it also hosts the
    executors; the python workers and the OS page cache get the rest)."""
    cpus = nproc()
    driver_mb = mem_total_mb() // 4
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "%dm" % driver_mb
    # build_session runs 2 cpus per task on local[k >= 2]
    slots = cpus // 2 if cpus >= 2 else 1
    return {"nproc": cpus, "slots": slots, "driver_mem_mb": driver_mb}


def cpu_probe_ms(n: int = 2_000_000) -> float:
    """Single-thread speed in ms for a fixed busy loop (min of 3): the same
    loop as ``bench._cpu_probe``, so the two records compare."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best


def git_commit(root: str) -> str | None:
    """HEAD's commit when ``root`` is a git checkout (read from .git, no
    subprocess), else None."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        try:
            with open(os.path.join(git, ref)) as fh:
                return fh.read().strip()
        except FileNotFoundError:
            with open(os.path.join(git, "packed-refs")) as fh:
                for line in fh:
                    if line.rstrip().endswith(" " + ref):
                        return line.split()[0]
    except (FileNotFoundError, NotADirectoryError):
        pass
    return None


def source_digest(root: str) -> str:
    """sha256 over the program's source files: identifies the code under
    test where no git metadata exists."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "wikiprep_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith((".py", ".json")):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def fingerprint(root: str, sizing: dict) -> dict:
    return dict(sizing, loadavg=list(os.getloadavg()),
                cpu_probe_ms=round(cpu_probe_ms(), 1),
                git_commit=git_commit(root),
                source_sha256=source_digest(root))


def _pyspark_processes() -> dict:
    """{pid: parent pid} of the pyspark daemon and its forked workers below
    this process (this process -> JVM -> pyspark.daemon -> workers)."""
    me = os.getpid()
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out = {}
    for pid, ppid in parent.items():
        p, hops = ppid, 0
        while p not in (me, 0, 1) and p in parent and hops < 8:
            p, hops = parent[p], hops + 1
        if p != me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out[pid] = ppid
    return out


def workers_rss_mb() -> float:
    total_pages = 0
    for pid in _pyspark_processes():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total_pages += int(fh.read().split()[1])
        except OSError:
            continue
    return total_pages * PAGE_KB / 1024


def kill_idle_workers() -> None:
    """End the python workers the pyspark daemon forked, so the next run
    starts with fresh ones: a reused worker keeps every dictionary
    ``functions.dictload`` cached for earlier runs.  Call only between
    runs, when every worker is idle; Spark discards dead idle workers and
    the daemon forks new ones on demand."""
    procs = _pyspark_processes()
    workers = [p for p, pp in procs.items() if pp in procs]
    for pid in workers:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + PROCESS_WAIT_S
    while set(workers) & set(_pyspark_processes()):
        if time.time() > deadline:
            raise RuntimeError("pyspark workers did not exit")
        time.sleep(0.05)


def wait_no_pyspark() -> None:
    deadline = time.time() + PROCESS_WAIT_S
    while _pyspark_processes() and time.time() < deadline:
        time.sleep(0.2)


class RssSampler:
    """Samples the summed RSS of the pyspark python workers every
    RSS_SAMPLE_S seconds on a thread; ``peak_mb`` is the highest sample."""

    def __init__(self):
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, workers_rss_mb())
            self.samples += 1
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
