"""Shared plumbing: process environment, session set-up, statistics and
the result line.

All files the benchmark and Spark write go under ``WORK`` inside the
checkout (inputs, Spark scratch, JVM temp files, traces).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: The driver heap is fixed and touched at start-up, so the JVM's resident
#: peak does not depend on when the collector chose to grow the heap;
#: heap pressure shows as GC time instead.
DRIVER_HEAP = "1g"


def prepare_env(run_dir: str, cores: int) -> None:
    """Environment the JVM and the Python workers inherit. Must run
    before the first SparkSession is created."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # spark-submit's own launcher JVM: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_MASTER", None)
    # pandas deprecation notices from inside the Python workers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning,ignore::UserWarning"
    import tempfile

    tempfile.tempdir = tmp


def start_session(run_dir: str, cores: int, traced: bool):
    """``get_spark`` with the engine's defaults, confined to ``run_dir``.

    The UI (and with it the status REST API the tracer reads) is on only
    in the traced run."""
    from svoe_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "true" if traced else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # JVM temp files (and no hsperfdata file under /tmp)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
                # compiler threads live as long as the JVM, so their CPU
                # can be told apart from the engine's (see engine_cpu_s)
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> None:
    """Execute a DataFrame fully on the executors, collecting nothing."""
    df.write.format("noop").mode("overwrite").save()


def cached_bytes(spark) -> int:
    """Bytes held by persisted RDDs/DataFrames in this session."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this (driver) Python process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        s = f.read()
    end = s.rindex(")")
    return s[s.index("(") + 1 : end], s[end + 2 :].split()


def engine_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and every
    process under it -- the driver JVM and its Python workers -- including
    the children they have already reaped.

    Returns ``(engine, jit)``: ``jit`` is the time of the JVM's JIT
    compiler threads and ``engine`` everything else. The split matters on
    a shared host: the compilers' share of a request depends on how far
    the compile queue got, while the engine's share is the work the
    request itself asks for. Time the host steals from this machine is
    in neither."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, rest = _stat_fields(f"/proc/{name}/stat")
        except (OSError, ValueError):
            continue  # exited while listed
        children.setdefault(int(rest[1]), []).append(int(name))
        # utime, stime, cutime, cstime
        ticks[int(name)] = sum(int(x) for x in rest[11:15])
    total = jit = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, rest = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            except (OSError, ValueError):
                continue
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                jit += int(rest[11]) + int(rest[12])
    hz = os.sysconf("SC_CLK_TCK")
    return (total - jit) / hz, jit / hz


def median(values) -> float:
    return float(statistics.median(values))


def tail(values, p: float = 99.0) -> float:
    """The p-th percentile when at least ten samples lie beyond it, else
    the maximum (the highest value the sample supports)."""
    xs = sorted(values)
    k = max(0, math.ceil(len(xs) * p / 100.0) - 1)
    return float(xs[k]) if len(xs) - 1 - k >= 10 else float(xs[-1])


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    """Print the result object as the last line of standard output."""
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
