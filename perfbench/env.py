"""Host record, work directories, Spark session and peak-RSS sampling.

Everything the benchmark writes lives under ``<root>/.perfbench`` where
``<root>`` is the checkout that holds this directory, so two checkouts
measured side by side never share state.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"
CACHE = STATE / "cache"
RESULTS = STATE / "results"

#: driver JVM heap; small enough to share a host, large enough for the
#: 20k-doc ingest pass
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_sha(top: str) -> str:
    """Content hash of the ``*.py`` files under ``ROOT/top`` (the checkout
    need not be a git repository, so this is the identity that always
    exists)."""
    h = hashlib.sha1()
    base = ROOT / top
    for p in sorted(base.rglob("*.py")):
        h.update(str(p.relative_to(base)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), *args],
            capture_output=True, text=True, timeout=20, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def _ref_loop(n: int) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i
    return time.perf_counter() - t0


class HostRef:
    """Host-speed reference: a fixed pure-Python loop run at once in one
    process per core, so a host whose cores are shared or slowed shows
    it. A round's value is the slowest process's wall time; ``cpu_ref_s``
    is the median round, taken before and after the workload. It tells a
    slow host from a slow program when two results disagree."""

    LOOP = 1_500_000
    ROUNDS = 5

    def __init__(self) -> None:
        import multiprocessing

        # started before Spark, so its idle processes never fork the JVM
        self._pool = multiprocessing.get_context("spawn").Pool(nproc())
        # one untimed round, so every process has started and warmed up
        self._pool.map(_ref_loop, [self.LOOP] * nproc(), chunksize=1)
        self.rounds: list[float] = []

    def measure(self) -> None:
        n = nproc()
        for _ in range(self.ROUNDS):
            self.rounds.append(max(self._pool.map(_ref_loop, [self.LOOP] * n, chunksize=1)))

    def close(self) -> None:
        self._pool.close()
        self._pool.join()
        # drop the pool, so its semaphores are released before
        # ``reap_children`` stops the resource tracker that holds them
        self._pool.terminate()
        self._pool = None

    @property
    def cpu_ref_s(self) -> float:
        import statistics

        return statistics.median(self.rounds)


def host_record(local_dir: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    sha = _git("rev-parse", "HEAD")
    dirty = None
    if sha is not None:
        dirty = bool(_git("status", "--porcelain", "--untracked-files=no"))
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": f"local[{nproc()}]",
        "git_sha": sha,
        "git_dirty": dirty,
        "source_sha": tree_sha("ocr_search_spark"),
        "bench_sha": tree_sha("perfbench"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "local_dir": local_dir,
    }


class WorkDir:
    """Per-run scratch tree, removed when the run ends."""

    def __init__(self) -> None:
        self.path = STATE / "work" / f"run-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog", "out"):
            (self.path / sub).mkdir(parents=True)
        self._n = 0

    def fresh(self, stem: str) -> str:
        """A new, never-used output directory path (not created)."""
        self._n += 1
        return str(self.path / "out" / f"{stem}-{self._n}")

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def confine_process_env(work: WorkDir) -> None:
    """Point every temp/local dir the driver, JVM and workers use into the
    work tree. Must run before the JVM starts. SPARK_LOCAL_DIRS outranks
    ``spark.local.dir`` inside Spark, so the benchmark sets it itself."""
    os.environ["TMPDIR"] = str(work.path / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work.path / "spark-local")


def spark_conf(work: WorkDir, trace: bool) -> dict:
    conf = {
        # workers import the package from this checkout, never from the cwd
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        "spark.local.dir": str(work.path / "spark-local"),
        "spark.sql.warehouse.dir": str(work.path / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work.path / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work.path / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: WorkDir, trace: bool):
    from ocr_search_spark.session import get_spark

    spark = get_spark("perfbench", cores=nproc(), extra_conf=spark_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_worker_imports(spark) -> str:
    """Run one task that reports where the workers import the package from;
    refuse to go on unless it is this checkout."""

    def where(_):
        import ocr_search_spark

        yield os.path.realpath(ocr_search_spark.__file__)

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()[0]
    if not Path(got).is_relative_to(ROOT.resolve()):
        raise RuntimeError(
            f"Python workers import ocr_search_spark from {got}, "
            f"not from the checkout under test {ROOT}"
        )
    return got


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Make processes orphaned below this one (Python workers whose JVM has
    exited, for one) re-parent to it, so ``reap_children`` can wait for
    them. Linux only; elsewhere a no-op."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _child_pids() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rindex(b")") + 2 :].split()[1].decode() == me:
            pids.append(int(entry.name))
    return pids


def reap_children(grace_s: float = 20.0) -> None:
    """Stop every process this one started and wait until each has ended.

    multiprocessing's resource tracker (started by the spawn pools) ignores
    SIGTERM and would outlive this process by a moment, so it is stopped
    first; anything left is sent SIGTERM, and SIGKILL after ``grace_s``."""
    import gc
    import signal
    from multiprocessing import resource_tracker

    gc.collect()  # frees pools still held by a traceback, and their semaphores
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    deadline = time.monotonic() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        pids = _child_pids()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


class RssSampler:
    """Peak RSS sampled from /proc: summed over the driver, the JVM and its
    Python workers, of the JVM alone, and of the largest single Python
    worker. The JVM's heap grows with GC timing and the number of live
    workers with task timing, so only the per-worker peak is steady
    enough to bound."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_worker_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        names: dict[int, bytes] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                with open(f"/proc/{entry.name}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            # field 2 is the parenthesised command name, field 4 the ppid
            close = stat.rindex(b")")
            pid = int(entry.name)
            names[pid] = stat[stat.index(b"(") + 1 : close]
            children.setdefault(int(stat[close + 2 :].split()[1]), []).append(pid)
        total = 0
        todo = [(os.getpid(), False)]
        while todo:
            pid, under_jvm = todo.pop()
            name = names.get(pid, b"")
            is_jvm = name == b"java" and not under_jvm
            is_worker = under_jvm and name.startswith(b"python")
            todo.extend((c, under_jvm or is_jvm) for c in children.get(pid, ()))
            if not (pid == os.getpid() or is_jvm or is_worker):
                # short-lived helpers the JVM spawns (e.g. chmod) share its
                # address space until they exec; counting them would add
                # the JVM's RSS a second time
                continue
            try:
                with open(f"/proc/{pid}/statm", "rb") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            total += rss
            if is_jvm:
                self.peak_jvm_bytes = max(self.peak_jvm_bytes, rss)
            elif is_worker:
                self.peak_worker_bytes = max(self.peak_worker_bytes, rss)
        self.peak_bytes = max(self.peak_bytes, total)
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)
