"""Process-level plumbing for the benchmark: the Spark session, the
process-tree memory sampler, percentiles and the environment record.

Nothing here knows about a workload. Everything the benchmark writes goes
under ``perfbench/out`` of the checkout it runs in, Spark's scratch space
included.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading


def process_start_epoch() -> float:
    """Wall-clock time at which this Python process started (from
    ``/proc``), so ``setup_s`` includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5), 0-based after comm
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(root: str, workdir: str) -> None:
    """Point every temp file at the checkout and let Python workers import
    the package under test. Must run before pyspark is imported."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # both the launcher JVM and the driver JVM: temp files into the
    # checkout, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(workdir: str, ui: bool):
    """One local session sized for a shared 4-core, 15 GB machine:
    ``local[nproc]``, a 2 GB driver heap touched at start, shuffle
    partitions = cores.
    The UI (and its REST API) is on only for traced runs."""
    from pyspark.sql import SparkSession

    n = nproc()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed, pre-touched heap: the JVM's share of peak_rss_mb should not
        # depend on how many heap regions the collector happened to touch
        .config("spark.driver.extraJavaOptions", "-Xms2g -XX:+AlwaysPreTouch")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    if ui:
        builder = builder.config("spark.ui.port", "0").config(
            "spark.ui.retainedJobs", "100000"
        ).config("spark.ui.retainedStages", "100000")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    # proportional set size: pages shared between forked Python workers
    # and their daemon are split between them instead of counted in each
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("Pss:")) * 1024


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def tree_rss(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` and all its descendants, by command
    name: the Python driver, the driver JVM and the Python worker daemon
    with its workers. Python processes count their PSS; the JVM shares
    almost no pages with them, so its RSS is read instead, from ``statm``
    in O(1): reading its PSS walks the page tables of the whole heap
    (~30 ms of kernel time a sample, under the JVM's mmap lock)."""
    kids = _children()
    parts: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            rss = _rss_bytes(pid) if comm == "java" else _pss_bytes(pid)
        except (OSError, IndexError, ValueError, StopIteration):
            continue
        parts[comm] = parts.get(comm, 0) + rss
        parts[f"{comm}_procs"] = parts.get(f"{comm}_procs", 0) + 1
    return parts


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread while active; ``peak_mb`` is the largest sample and
    ``peak_parts`` its split by process name. A sample costs up to ~20 ms
    of CPU with a dozen Python workers alive, so the interval keeps the
    sampler below a tenth of one core."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self, pid: int) -> None:
        parts = tree_rss(pid)
        total = sum(v for k, v in parts.items() if not k.endswith("_procs"))
        if total > self.peak:
            self.peak, self.peak_parts = total, parts

    def __enter__(self):
        self._sample(os.getpid())
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        pid = os.getpid()
        while not self._stop.wait(self.interval):
            self._sample(pid)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample(os.getpid())
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) at the highest percentile that still has at
    least ten samples above it, or (None, None) when there are too few
    samples for that percentile to lie at or above the median."""
    n = len(values)
    if n < 20:
        return None, None
    s = sorted(values)
    k = n - 11  # index with exactly ten samples beyond it
    return 100.0 * (k + 1) / n, s[k]


def environment(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "jvm": str(jvm.System.getProperty("java.version")),
        "jvm_vendor": str(jvm.System.getProperty("java.vendor")),
        "spark_confs": dict(sorted(spark.sparkContext.getConf().getAll())),
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(total bytes, number of parquet data files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
