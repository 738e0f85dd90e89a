"""Process-level plumbing for the benchmark: the Spark driver's lifecycle,
Spark's status store, process-tree RSS, on-disk sizes and drift controls.

Everything the benchmark writes stays under its work dir inside the
checkout: Spark's local dir, the JVM and Python temp dirs and the JVM log
(the JVM's stderr, kept so WindowExec warnings can be counted).
"""

from __future__ import annotations

import os
import time

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "1g"


class SparkHarness:
    """Owns the one Spark driver of a benchmark process.

    ``session()`` launches the JVM on first use and keeps the seconds
    ``make_session`` took in ``launch_s``; ``close()`` stops Spark, ends
    the JVM and waits for it.
    """

    def __init__(self, work: str):
        self.work = work
        self.jvm_log = os.path.join(work, "jvm.log")
        self.spark = None
        self.launch_s = None
        self._proc = None

    def session(self):
        if self.spark is not None:
            return self.spark
        from crawl_spark.session import make_session

        t0 = time.perf_counter()

        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["TMPDIR"] = tmp  # Python workers inherit it
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        conf = {
            # no hsperfdata under /tmp; JVM temp files stay in the work dir
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir=%s" % tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # JobGroup reads every stage of a group back from the status
            # store, which otherwise evicts (skipped stages first) past 1000
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        # the JVM inherits fd 2 at launch: point it at the log file
        saved = os.dup(2)
        fd = os.open(self.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
        os.dup2(fd, 2)
        os.close(fd)
        try:
            self.spark = make_session(
                "frontierbench", master=MASTER,
                shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
            )
        finally:
            os.dup2(saved, 2)
            os.close(saved)
        self.launch_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self._proc = SparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self._proc is None:
            return
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        # the gateway JVM exits when its stdin closes
        self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except Exception:
            self._proc.kill()
            self._proc.wait()
        self._proc = None

    def window_warns(self) -> int:
        """WindowExec single-partition WARN lines the JVM has logged so far."""
        if not os.path.exists(self.jvm_log):
            return 0
        with open(self.jvm_log, errors="replace") as f:
            return sum("No Partition Defined for Window operation" in line for line in f)

    def jvm_log_tail(self, n: int = 40) -> str:
        if not os.path.exists(self.jvm_log):
            return ""
        with open(self.jvm_log, errors="replace") as f:
            return "".join(f.readlines()[-n:])


class JobGroup:
    """Totals of every Spark job run under one job group, read from
    Spark's status store (works with the UI disabled)."""

    def __init__(self, spark, name: str):
        self.sc = spark.sparkContext
        self.name = name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return False

    def totals(self) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store is fed asynchronously
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(self.name)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "exec_run_s": 0.0,
               "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0}
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_run_s"] += sd.executorRunTime() / 1e3
            out["input_mb"] += sd.inputBytes() / 1e6
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        return out


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Peak RSS of this process tree (JVM + Python workers) over a block:
    each process's high-water mark is reset on entry and the marks are
    summed on exit, so no sampling thread competes with the driver."""

    def __init__(self):
        self.peak = 0

    def __enter__(self):
        for pid in _tree_pids(os.getpid()):
            try:
                with open("/proc/%d/clear_refs" % pid, "w") as f:
                    f.write("5")  # VmHWM := current RSS
            except OSError:
                pass
        return self

    def __exit__(self, *exc):
        self.peak = sum(_hwm_bytes(p) for p in _tree_pids(os.getpid()))
        return False


def file_sizes(path: str) -> dict[str, int]:
    """Size in bytes of every file under ``path``, by path."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs since
    boot: a crawl slows with the steal during it, so it is logged beside
    each timed crawl."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_control(spark, rows: int = 100_000_000) -> float:
    """Box-speed control: a fixed CPU-bound codegen job (as in bench.py)."""
    t0 = time.perf_counter()
    spark.range(rows, numPartitions=4).selectExpr("bit_xor(xxhash64(id)) as h").collect()
    return time.perf_counter() - t0


def parse_control(htmls: list) -> float:
    """No-Spark bandwidth control: tools/bench_parse_kernel.py's loop at
    one worker, in this process. Returns µs per page."""
    from crawl_spark.functions.htmldom import extract_links, parse_html, sel_text

    t0 = time.perf_counter()
    for h in htmls:
        root = parse_html(h)
        sel_text(root, "body")
        extract_links(root, "http://x.example/", "a")
    return (time.perf_counter() - t0) / len(htmls) * 1e6
