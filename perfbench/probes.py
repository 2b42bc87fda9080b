"""Readings the benchmark takes from outside the program: host steal,
process-tree memory, run provenance, and Spark's own status stores
(stage data and the SQL metrics of the executed plan)."""

from __future__ import annotations

import hashlib
import os
import signal
import time

# Python-worker SQL metrics of a MapInPandas node, by their plan-graph
# names (PythonSQLMetrics in Spark 4.x)
ARROW_METRICS = {
    "time to start Python workers": "arrow.python_start_ms",
    "time to initialize Python workers": "arrow.python_init_ms",
    "time to run Python workers": "arrow.python_run_ms",
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
}

STAGE_METRICS = (
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.jvm_gc_ms",
    "spark.input_bytes", "spark.output_bytes", "spark.spill_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_fetch_wait_ms", "spark.shuffle_write_ms",
    "spark.task_ms_p50", "spark.task_ms_max", "spark.failed_tasks",
)


# ------------------------------------------------------------------ host
def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Summed VmHWM (peak resident set) of ``pid`` and its descendants:
    driver, JVM and Python workers."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reap_descendants(pid: int, timeout: float = 30.0) -> None:
    """Wait for every descendant of ``pid`` to end; TERM, then KILL,
    whatever outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    sent = None
    while True:
        left = descendants(pid)
        if not left:
            return
        now = time.monotonic()
        if now > deadline and sent != signal.SIGKILL:
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            deadline = now + 5.0
            for p in left:
                try:
                    os.kill(p, sent)
                except ProcessLookupError:
                    pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


# ------------------------------------------------------------ provenance
def run_info(root: str, master: str) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "pyspark": pyspark.__version__,
        "commit": _commit(root),
        "source_sha": _source_sha(root),
    }


def _commit(root: str) -> str:
    """HEAD commit read from the checkout's .git, or "unknown" when the
    checkout is not a git repository."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _source_sha(root: str) -> str:
    """Content hash of the package sources: identifies the code under
    test when there is no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "vlm_ocr_pipeline_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


# ----------------------------------------------------------- spark stores
def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def drain_listeners(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    status stores describe the jobs that already returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def stage_ids(spark, group: str) -> list[int]:
    tracker = spark.sparkContext.statusTracker()
    ids: list[int] = []
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        if info is not None:
            ids.extend(info.stageIds)
    return sorted(set(ids))


def stage_metrics(spark, group: str) -> tuple[dict[str, float], list[float], list[tuple[int, float, float]]]:
    """Summed stage data of every job in ``group`` from the status store,
    the duration in ms of each of their tasks, and (stage id, start, end)
    in epoch seconds for each stage that ran."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    durations: list[float] = []
    spans: list[tuple[int, float, float]] = []
    keys = [k for k in STAGE_METRICS if not k.startswith("spark.task_ms")]
    m = dict.fromkeys(keys, 0.0)
    for sid in stage_ids(spark, group):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted from the store
            continue
        sub, comp = sd.submissionTime(), sd.completionTime()
        if not (sub.isDefined() and comp.isDefined()):
            continue  # skipped stage: its output was reused
        spans.append((sid, sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        m["spark.executor_run_ms"] += sd.executorRunTime()
        m["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        m["spark.jvm_gc_ms"] += sd.jvmGcTime()
        m["spark.input_bytes"] += sd.inputBytes()
        m["spark.output_bytes"] += sd.outputBytes()
        m["spark.spill_bytes"] += sd.diskBytesSpilled()
        m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["spark.shuffle_fetch_wait_ms"] += sd.shuffleFetchWaitTime()
        m["spark.shuffle_write_ms"] += sd.shuffleWriteTime() / 1e6
        m["spark.failed_tasks"] += sd.numFailedTasks()
        for t in _seq(store.taskList(sid, sd.attemptId(), 100_000)):
            if t.duration().isDefined():
                durations.append(float(t.duration().get()))
    return m, durations, spans


def arrow_metrics(spark, description: str) -> dict[str, float]:
    """Python-worker SQL metrics summed over every MapInPandas node of the
    SQL executions labelled ``description``."""
    jvm = spark.sparkContext._jvm
    acc_ctx = jvm.org.apache.spark.util.AccumulatorContext
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(ARROW_METRICS.values(), 0.0)
    for ex in _seq(store.executionsList()):
        if ex.description() != description:
            continue
        for node in _seq(store.planGraph(ex.executionId()).allNodes()):
            if "MapInPandas" not in node.name():
                continue
            for metric in _seq(node.metrics()):
                key = ARROW_METRICS.get(metric.name())
                if key is None:
                    continue
                acc = acc_ctx.get(metric.accumulatorId())
                if acc.isDefined():
                    out[key] += float(acc.get().value())
    return out


def storage(spark) -> dict[str, float]:
    """Pinned RDDs and block-store memory in use."""
    sc = spark.sparkContext
    mem = sc._jsc.sc().getExecutorMemoryStatus()
    used = 0
    for k in _seq(mem.keys().toSeq()):
        pair = mem.apply(k)
        used += pair._1() - pair._2()
    return {
        "spark.persistent_rdds_after": float(sc._jsc.getPersistentRDDs().size()),
        "spark.storage_memory_bytes": float(used),
    }
