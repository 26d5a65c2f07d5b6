"""Shared plumbing: run directories, the Spark session, the memory sampler,
percentiles, the host fingerprint and the result record."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".logbench_runs")
TRACES_DIR = os.path.join(ROOT, ".logbench_traces")
CORES = 4


class Run:
    """One benchmark invocation: its arguments, its private temp root, the
    numbers it reports and the operations it checked."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = os.path.join(RUNS_DIR, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(os.path.join(self.root, "tmp"))
        self.metrics: dict[str, dict] = {}
        self.info: dict[str, dict] = {}
        self.params: dict = {"seed": seed, "seconds": seconds}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.rss: RssSampler | None = None

    @property
    def gen_repeats(self) -> int:
        """How often set-up generates its inputs: a timed run reports the
        median of three; a traced run reports no set-up time."""
        return 1 if self.trace else 3

    def section(self, workload: str) -> dict:
        """The parameter record of one workload's phase."""
        return self.params.setdefault(workload, {})

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a wrong output is a failed one."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def metric(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        """An end-to-end metric of the record (see BENCHMARK.json)."""
        self.metrics[name] = {"value": float(value), "unit": unit, "samples": samples}

    def wall(self, name: str, value: float, unit: str, samples: int = 1) -> None:
        """A wall-clock number that is printed but not part of the record:
        on a host shared with other tenants its run-to-run spread is wider
        than any useful regression bound."""
        self.info[name] = {"value": float(value), "unit": unit, "samples": samples}

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass


def isolate_environment(run: Run) -> None:
    """Point every temp-file user (Python, the JVM, Spark's Python workers)
    at the run's own root, and put the package on the workers' path."""
    tmp = run.path("tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def boot_spark(run: Run):
    """The program's own session factory on local[4], with every spill and
    metadata directory under the run root."""
    from spark_streaming_logservice_spark.session import get_spark

    tmp = run.path("tmp")
    # The heap is committed and touched up front (1 GiB, the same as its
    # cap): otherwise the JVM's resident memory depends on when G1 decides
    # to grow the heap, and read 1,054-1,304 MB across ten identical runs.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
        "-Xms1g -XX:+AlwaysPreTouch"
    )
    spark = get_spark(
        app_name=f"logbench-{run.workload}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "1g",  # keep in step with -Xms above
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": run.path("spark-local"),
            "spark.sql.warehouse.dir": run.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_hooks_unarmed() -> bool:
    """The package's optional per-phase timing hooks must stay off in a
    timed run: arming the digest store's hook adds a count() per batch, so
    an armed run would measure a different program."""
    from spark_streaming_logservice_spark.sources import store_backend
    from spark_streaming_logservice_spark.streaming import dedup_store, rollup

    return all(
        getattr(m, "TIMINGS", None) is None for m in (dedup_store, rollup, store_backend)
    )


def host_fingerprint() -> dict:
    import pyspark

    model = platform.processor() or "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        nproc = os.cpu_count()
    return {
        "nproc": nproc,
        "cpu_model": model,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "spark_master": f"local[{CORES}]",
    }


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype="float64"), q))


def median(values) -> float:
    return float(statistics.median(values))


class RssSampler:
    """Peak resident memory of this process and every descendant (the JVM
    and its Python workers), sampled from /proc every ``interval`` seconds.
    Processes listed in ``exclude`` (the load generator) are not counted."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        children, stats = _proc_table()
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        me = os.getpid()
        rss = {
            pid: int(stats[pid][1][21]) * page_kb
            for pid in _descendants(me, children, self.exclude)
        }
        total = sum(rss.values())
        if total <= self.peak_kb:
            return
        self.peak_kb = total
        parts = {"driver_mb": rss[me], "jvm_mb": 0, "python_workers_mb": 0, "python_workers": 0}
        for pid, kb in rss.items():
            name = stats[pid][0]
            if name == "java":
                parts["jvm_mb"] += kb
            elif pid != me and name.startswith("python"):
                parts["python_workers_mb"] += kb
                parts["python_workers"] += 1
        self.peak_parts = {k: (v // 1024 if k.endswith("_mb") else v) for k, v in parts.items()}


def timer() -> float:
    return time.perf_counter()


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[str, list[str]]]]:
    """Every process's children and (command name, /proc/<pid>/stat fields
    after the name)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, list[str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        pid = int(entry)
        stats[pid] = (raw[raw.index("(") + 1:raw.rindex(")")], fields)
        children.setdefault(int(fields[1]), []).append(pid)
    return children, stats


def _descendants(root: int, children: dict[int, list[int]], exclude=()):
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            yield pid
            todo.extend(children.get(pid, ()))


def tree_cpu_s(exclude=()) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    this process and its descendants: the JVM, the Python workers it forks
    and reaps. Unlike wall time, it does not count time the host took the
    CPU away (steal), so it stays comparable on a shared machine."""
    children, stats = _proc_table()
    ticks = sum(
        sum(int(x) for x in stats[pid][1][11:15])  # utime stime cutime cstime
        for pid in _descendants(os.getpid(), children, exclude)
        if pid in stats
    )
    return ticks / os.sysconf("SC_CLK_TCK")


class StealMeter:
    """Share of the host's CPU time taken by the hypervisor (steal) between
    construction and ``share()``, from /proc/stat: a record of how noisy
    the host was while a window was measured."""

    def __init__(self) -> None:
        self.start = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals)

    def share(self) -> float:
        steal, total = self._read()
        return round((steal - self.start[0]) / max(1, total - self.start[1]), 4)


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
