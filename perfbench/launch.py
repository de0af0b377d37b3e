"""Launch settings the benchmark owns: task slots, heap, generated-class
cache, scratch dirs, the package on the Python workers' path, and the
peak-RSS sampler.

Everything a run writes lives under ``<checkout>/.perfbench_work/<pid>``
and is deleted when the run ends.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HEAP = "2g"  # driver heap (local mode: the only heap); fits a 15 GB host


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: half the cores. The other half is left to what
    runs beside the tasks (the JIT compiler, which is still compiling the
    engine's code paths through the first jobs, the driver's planning and
    the Python workers' pipelined batches). At ``local[nproc]`` these
    compete with the tasks: on a 4-core host a warm pipeline job took about
    as long as at ``local[nproc/2]``, and runs spread about twice as wide."""
    return max(1, nproc() // 2)


class WorkDir:
    """Per-process scratch dir inside the checkout, removed on exit."""

    def __init__(self):
        self.path = ROOT / ".perfbench_work" / str(os.getpid())
        self.path.mkdir(parents=True, exist_ok=True)

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()  # only if no concurrent run uses it
        except OSError:
            pass


def configure_env(work: WorkDir) -> None:
    """Process environment read by the JVM launcher and the workers. Must
    run before the first SparkSession is created."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(work.sub("spark-local"))
    os.environ["TMPDIR"] = str(work.sub("tmp"))
    # workers are started by the JVM and do not inherit sys.path: without
    # the checkout root on PYTHONPATH they fail with ModuleNotFoundError
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_spark(work: WorkDir, cores: int, traced: bool):
    from video_duplicate_finder_python_spark import get_spark
    from video_duplicate_finder_python_spark.session import warm_python_workers

    tmp = work.sub("tmp")
    retained = "100000" if traced else "1000"
    java_opts = [
        f"-Djava.io.tmpdir={tmp}",
        # a fixed, resident heap: its growth follows GC timing, which would
        # move peak RSS and add resizing pauses from run to run
        f"-Xms{HEAP}",
        "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        # compiler threads live as long as the JVM (see tree_cpu_s)
        "-XX:-UseDynamicNumberOfCompilerThreads",
    ]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": " ".join(java_opts),
            "spark.sql.warehouse.dir": str(work.sub("warehouse")),
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            # Spark keeps 100 generated classes by default, fewer than one
            # pipeline job generates: each repeated job in the same JVM then
            # recompiles all of them and the JIT compiles them afresh, and
            # the loop needs ~5 jobs instead of one to reach its steady
            # state. A job in a fresh JVM compiles each class once either way.
            "spark.sql.codegen.cache.maxEntries": "5000",
        },
    )
    warm_python_workers(spark, cores)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to exit."""
    started = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _cpu_ticks(stat_path: str) -> tuple[str, int]:
    """(name, utime + stime + cutime + cstime in clock ticks) from a
    /proc stat file; ("", 0) if the process or thread is gone."""
    try:
        with open(stat_path) as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:
        return "", 0
    return head.split("(", 1)[1], sum(int(x) for x in tail.split()[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and everything it started
    (the driver JVM, its Python workers), exited children included, less
    the JVM's JIT compiler threads.

    The compiler threads are left out because their work is warm-up: they
    compile the engine's code paths through the first operations, and
    with them counted an operation's CPU time falls by a third over the
    measured operations; without them it is flat from the second
    operation. ``start_spark`` keeps the compiler threads alive for the
    JVM's life, so their time never moves into the process total."""
    t = os.times()
    ticks = 0
    for pid in _descendants(os.getpid()):
        name, n = _cpu_ticks(f"/proc/{pid}/stat")
        ticks += n
        if name == "java":
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                name, n = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat")
                if "CompilerThre" in name:
                    ticks -= n
    return t.user + t.system + t.children_user + t.children_system + ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def _alive(pid: int) -> bool:
    """Whether a process exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _hwm_kb(pid: int) -> tuple[str, int]:
    """(command name, peak RSS in kB) of a live process; ("", 0) if gone."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return comm, int(line.split()[1])
    except OSError:
        pass
    return "", 0


class PeakRss:
    """Peak memory of the run: the driver JVM's peak RSS plus ``slots``
    times the largest peak RSS of any Python worker.

    Spark forks Python workers on demand, and how many are alive at once
    follows task timing (the same inputs gave 3.5 GB and 5.8 GB of summed
    RSS), so the sum over workers is not a property of the program. One
    busy worker per task slot is. Peaks are the kernel's per-process
    high-water marks, sampled so that workers that exit are not missed."""

    def __init__(self, slots: int, interval_s: float = 0.25):
        self.slots = slots
        self.interval_s = interval_s
        self.jvm_kb = 0
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in _descendants(os.getpid()):
            comm, kb = _hwm_kb(pid)
            if comm == "java":
                self.jvm_kb = max(self.jvm_kb, kb)
            elif comm.startswith("python"):
                self.worker_kb = max(self.worker_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return (self.jvm_kb + self.slots * self.worker_kb) / 1024.0
