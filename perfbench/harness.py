"""Process-level plumbing for the benchmark: where it may write, how the
Spark session is started, the peak-RSS sampler, host facts, and the
status-store reader that turns Spark job groups into per-layer numbers.

Nothing here knows about workloads; `workloads.py` composes it.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = BENCH_DIR / "out"          # every file a run writes lives under here
WORK = OUT / "work"              # inputs, graphs, checkpoints of one run
SPARK_LOCAL = OUT / "spark-local"
TMP = OUT / "tmp"


def engine_present() -> bool:
    return ((ROOT / "llm_knowledge_graph_spark" / "__init__.py").is_file()
            and (ROOT / "tools" / "run_pipeline.py").is_file())


def prepare_environment(driver_mem: str = "3g") -> None:
    """Confines every file the run, its JVM and its Python workers write to
    `OUT`, and puts the checkout on the workers' import path (a session
    started from outside the repo otherwise fails every mapInPandas task
    with ModuleNotFoundError). Must run before the first pyspark import."""
    for d in (WORK, SPARK_LOCAL, TMP):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = str(TMP)
    os.environ["SPARK_LOCAL_DIRS"] = str(SPARK_LOCAL)
    os.environ["SPARK_DRIVER_MEM"] = driver_mem
    # java.io.tmpdir and no hsperfdata: the JVM would otherwise write /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData")


def cleanup_environment() -> None:
    """Local dirs and scratch data never outlive the run."""
    for d in (WORK, SPARK_LOCAL, TMP):
        shutil.rmtree(d, ignore_errors=True)


def start_spark(cores: int):
    from llm_knowledge_graph_spark.session import get_spark
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.local.dir": str(SPARK_LOCAL),
            # a run holds several builds; keep every job for the tracer
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stops the session, then the JVM behind it, and waits until the JVM
    and the Python workers it forked have exited."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()       # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while (process_tree(os.getpid()) - {os.getpid()}
           and time.monotonic() < deadline):
        time.sleep(0.2)


def reset_between_ops(spark, *dirs: Path) -> None:
    """build_kg persists its extraction output and the CacheManager matches
    identical plans across calls: without clearCache a repeat times only
    the post-extract tail. Output dirs of the previous op go too."""
    spark.catalog.clearCache()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def dir_bytes(path: Path) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def dir_files(path: Path, suffix: str = ".parquet") -> int:
    return sum(1 for _b, _d, files in os.walk(path)
               for f in files if f.endswith(suffix))


# ---------------------------------------------------------------- memory

def _children() -> dict:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime of one process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    count once across the tree instead of once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root_pid: int) -> set:
    """`root_pid` and all its descendants (the driver Python process, the
    JVM it launched, and the Python workers the JVM forked)."""
    parents = _children()
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_mb(root_pid: int) -> tuple:
    """(total MB, {process name: MB}) of the tree's PSS."""
    parts: dict = {}
    for p in process_tree(root_pid):
        name = _comm(p)
        parts[name] = parts.get(name, 0.0) + _pss_kb(p) / 1024.0
    return sum(parts.values()), parts


def tree_cpu_s(root_pid: int) -> float:
    return sum(_cpu_s(p) for p in process_tree(root_pid))


class RssSampler:
    """Samples the process tree's summed resident memory (PSS) on a thread;
    `peak_mb` is the largest sample since the last `reset`."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            mb, parts = tree_rss_mb(pid)
            with self._lock:
                if mb > self.peak_mb:
                    self.peak_mb, self.peak_parts = mb, parts
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- host

def host_info(spark=None) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = [line for line in subprocess.run(
        ["java", "-version"], capture_output=True, text=True).stderr.splitlines()
        if not line.startswith("Picked up")]
    info = {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "java": java[0] if java else None,
        "platform": platform.platform(),
    }
    if spark is not None:
        info["spark"] = spark.version
    return info


# ---------------------------------------------------------------- status store

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Per-job-group stage metrics from the JVM status store. Works with
    spark.ui.enabled=false (the session factory's setting)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()

    def _doubles(self, values):
        arr = self._gw.new_array(self._gw.jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def snapshot(self) -> dict:
        """{job_group: {jobs, stages, tasks, run_s, gc_s, shuffle_write_b,
        shuffle_read_b, spill_b, input_b, task_skew}}; ungrouped jobs
        collect under the key None."""
        groups: dict = {}
        stage_group = {}
        for j in _seq(self._store.jobsList(None)):
            g = j.jobGroup()
            name = g.get() if g.isDefined() else None
            agg = groups.setdefault(name, _empty_group())
            agg["jobs"] += 1
            for sid in _seq(j.stageIds()):
                stage_group[sid] = name
        q = self._doubles([0.5, 1.0])
        stages = _seq(self._store.stageList(
            None, False, False, self._doubles([]), None))
        for s in stages:
            if s.status().toString() != "COMPLETE":
                continue
            name = stage_group.get(s.stageId())
            agg = groups.setdefault(name, _empty_group())
            agg["stages"] += 1
            agg["tasks"] += s.numTasks()
            agg["run_s"] += s.executorRunTime() / 1000.0
            agg["gc_s"] += s.jvmGcTime() / 1000.0
            agg["shuffle_write_b"] += s.shuffleWriteBytes()
            agg["shuffle_read_b"] += s.shuffleReadBytes()
            agg["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            agg["input_b"] += s.inputBytes()
            # skew of the group's heaviest stage: max / median task time
            if s.executorRunTime() > agg["_top_run_ms"]:
                dist = self._store.taskSummary(s.stageId(), s.attemptId(), q)
                if dist.isDefined():
                    med, mx = _seq(dist.get().executorRunTime())
                    agg["_top_run_ms"] = s.executorRunTime()
                    agg["task_skew"] = mx / med if med > 0 else 1.0
        for agg in groups.values():
            agg.pop("_top_run_ms")
        return groups


def _empty_group() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
            "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
            "input_b": 0, "task_skew": 0.0, "_top_run_ms": -1}


def write_side_file(name: str, payload: dict) -> Path:
    path = OUT / name
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True, default=str)
    return path


def now() -> float:
    return time.perf_counter()
