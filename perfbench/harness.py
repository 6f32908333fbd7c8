"""Run hygiene shared by every workload: the pinned environment, session
set-up and teardown, the Python-worker RSS sampler and the span tracer.

Everything a run writes stays under the checkout: inputs, outputs,
Spark scratch, the JVM's and Python's temp files, and the package zip
that ``session.get_spark`` ships to executors (built by the library's
own ``_package_zip``, with only its output file moved).
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import zipfile
from contextlib import contextmanager
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per-run scratch (inputs, outputs, Spark local dirs); removed at exit
WORK = os.path.join(REPO, ".perfbench_work")
#: traces written at the end of a traced run; kept
OUT = os.path.join(REPO, ".perfbench_out")

#: driver heap: far below the RAM of a 16 GB, 4-core host (the library
#: default of 48g exceeds it); inputs here need well under 2 GB
DRIVER_MEM = "4g"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict:
    """Pin cores, driver memory and every scratch location before the
    JVM starts; returns the settings for echoing."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(host_cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = None  # re-read TMPDIR
    pinned["master"] = f"local[{pinned['SPARK_GRAFT_CPUS']}]"
    return pinned


class _ZipInto:
    """Stand-in for the ``zipfile`` module as ``session`` sees it: the
    library's ``_package_zip`` runs unchanged (its walk, filter and
    compression), but the archive it opens lands in ``work``."""

    def __init__(self, work: str):
        self._work = work

    def __getattr__(self, name):
        return getattr(zipfile, name)

    def ZipFile(self, path, *args, **kwargs):  # noqa: N802 — mirrors zipfile
        return zipfile.ZipFile(self.path(path), *args, **kwargs)

    def path(self, path: str) -> str:
        return os.path.join(self._work, os.path.basename(path))


def _identity(batches):
    yield from batches


def start_session(work: str):
    """``get_spark`` plus the first Python job, which spawns one Python
    worker per core.  Returns the warm session."""
    from latex_ocr_spark import session

    into = session.zipfile = _ZipInto(work)
    library_zip = session._package_zip
    session._package_zip = lambda: into.path(library_zip())
    tmp = os.path.join(work, "tmp")
    spark = session.get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(_identity, "id long").count()
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway and wait for the JVM process to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> tuple:
    """(data files, bytes) under ``path``, ignoring hidden/underscore
    bookkeeping files (Spark's own convention)."""
    files = total = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            total += os.path.getsize(os.path.join(dirpath, n))
    return files, total


# ----------------------------------------------------------- worker RSS


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def python_worker_rss(root: int) -> int:
    """Summed resident bytes of the PySpark daemon and worker processes
    descended from process ``root`` (the JVM).  Workers are forks of the
    daemon and share its pages, so each process counts its proportional
    share (PSS): the sum is the memory the workers really hold."""
    kids = _children()
    total, stack = 0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            # the daemon and its forked workers; a process the JVM is
            # still spawning carries the JVM's own command line and memory
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            total += _pss_bytes(pid)
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Background sampler of :func:`python_worker_rss`; ``peak_bytes``
    is the largest sum seen while sampling was on."""

    def __init__(self, root: int, interval: float = 0.1):
        self._root = root
        self._interval = interval
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                self.peak_bytes = max(self.peak_bytes, python_worker_rss(self._root))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @contextmanager
    def sampling(self):
        """Sample while the block runs; ``peak_bytes`` is then the peak
        of this block alone."""
        self.peak_bytes = 0
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans recorded around calls into the program's layers.

    Each span sets a Spark job group named after itself and reads the
    status store's counts for the work started inside it.  Spans stay
    in memory; :meth:`dump` writes them out at the end.  A disabled
    tracer records nothing and costs nothing."""

    def __init__(self, spark, enabled: bool, run_id: str):
        from perfbench.statusstore import StatusReader

        self.enabled = enabled
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._spark = spark
        self._reader = StatusReader(spark) if enabled else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self._spark.sparkContext
        marker = self._reader.marker()
        sc.setJobGroup(name, name)
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        span = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]].name if self._stack else None
            if outer is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(outer, outer)
            span.counts = self._reader.since(marker)

    def find(self, name: str) -> Span:
        """The most recent span called ``name``."""
        return next(s for s in reversed(self.spans) if s.name == name)

    def self_seconds(self, idx: int) -> float:
        """A span's duration minus the union of its children's
        intervals (children never overlap: calls are sequential)."""
        span = self.spans[idx]
        covered = sum(s.seconds for s in self.spans if s.parent == idx)
        return span.seconds - covered

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "run_id": s.run_id,
                     "self_s": self.self_seconds(i), "counts": s.counts}
                    for i, s in enumerate(self.spans)
                ],
                f, indent=1,
            )
