"""Host sizing, process hygiene, tracing and status-store helpers shared by
the batch and serving workloads."""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "big_data_occupancy_detection_spark"
RUN_DIR = os.path.join(REPO, ".bench_build", "perfbench")
SPARK_JVM_MARK = "org.apache.spark.deploy.SparkSubmit"


# ---------------------------------------------------------------- hygiene

def prepare_process(scratch: str) -> None:
    """Pin every temp path of this process and the JVMs it launches under
    ``scratch``, and drop the library's behaviour-changing env switches.
    Must run before pyspark is imported."""
    os.makedirs(scratch, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    # no hsperfdata files in /tmp, JVM temp files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    tempfile.tempdir = scratch
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Batch driver heap: a quarter of RAM, at most 4 GiB. The host is
    shared, and the largest input tables need well under 1 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def other_spark_jvms() -> list[int]:
    me = os.getpid()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if SPARK_JVM_MARK.encode() in f.read():
                    found.append(int(pid))
        except OSError:
            continue
    return found


def refuse_if_contended(wait_s: float = 20.0) -> None:
    """Exit non-zero while another Spark JVM runs on the host: contention
    inflates timings 2-4x. A JVM that is just shutting down gets ``wait_s``."""
    end = time.monotonic() + wait_s
    while other_spark_jvms():
        if time.monotonic() > end:
            sys.exit(f"perfbench: another Spark JVM is running "
                     f"(pids {other_spark_jvms()}); refusing to measure")
        time.sleep(0.5)


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def busy_cpu_s() -> float:
    """CPU seconds the host has been busy so far (user, nice, system, irq
    and softirq time of every CPU). Time the hypervisor stole is not in it:
    this counts the work done, not the wait for a CPU."""
    t = cpu_ticks()
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / os.sysconf("SC_CLK_TCK")


def host_info(n: int, since: list[int]) -> dict:
    """Host sizing plus the share of CPU time the hypervisor stole since
    ``since`` (a ``cpu_ticks()`` reading): on a shared host it explains
    most of the spread between runs."""
    import pyspark

    d = [b - a for a, b in zip(since, cpu_ticks())]
    return {
        "nproc": host_cpus(),
        "local_n": n,
        "batch_heap_gb": heap_gb(),
        "spark": pyspark.__version__,
        "loadavg_1m": os.getloadavg()[0],
        "steal_share": d[7] / max(sum(d), 1),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------- session

def start_session(app: str, heap: int, extra: dict[str, str] | None = None):
    """The library's session factory on local[nproc] with a ``heap`` GiB
    driver."""
    from big_data_occupancy_detection_spark.session import get_session

    n = host_cpus()
    scratch = os.environ["TMPDIR"]
    conf = {
        "spark.driver.memory": f"{heap}g",
        # a heap committed up front grows no further during the run, so
        # the resident set depends less on when collections happen
        "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Xms{heap}g",
        "spark.local.dir": scratch,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job/stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    conf.update(extra or {})
    spark = get_session(app_name=app, master=f"local[{n}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark) -> None:
    """Codegen and scheduler warm-up on a tiny job. Workloads warm their own
    paths further with an untimed pass before timing."""
    noop(spark.range(1000).selectExpr("sum(id) AS s"))


# ---------------------------------------------------------------- stats

def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q``-th percentile: a Beta-weighted
    mean of all order statistics. Unlike a single order statistic it moves
    smoothly when latencies fall on a coarse grid, such as the serving
    plane's 50 ms poll steps."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    # Beta(a, b) CDF at i/n by the midpoint rule on a fine grid
    grid = 20_000
    mid = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(logpdf - logpdf.max()))])
    cdf /= cdf[-1]
    at = cdf[np.round(np.arange(n + 1) / n * grid).astype(int)]
    return float(np.dot(np.diff(at), x))


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# ---------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans: (name, start, end, parent index, attrs)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child[i]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


class StageMeter:
    """Job, stage and task counts plus executor metrics of the jobs a block
    of driver code launched, read from Spark's status store over py4j."""

    FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes",
              "inputRecords", "shuffleReadBytes", "shuffleWriteBytes",
              "memoryBytesSpilled", "diskBytesSpilled")

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.store = self.sc.statusStore()

    def mark(self) -> int:
        return self.dag.numTotalJobs()

    def since(self, mark: int) -> dict[str, float]:
        self.sc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(("jobs", "stages", "tasks", *self.FIELDS), 0)
        end = self.dag.numTotalJobs()
        out["jobs"] = end - mark
        for j in range(mark, end):
            it = self.store.job(j).stageIds().iterator()
            while it.hasNext():
                sd = self.store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                for f in self.FIELDS:
                    out[f] += getattr(sd, f)()
        return out
