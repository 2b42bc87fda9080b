"""Seeded closed-loop benchmark of the extraction engine.

One driver process at local[nproc] submits one job at a time over a
workload's seeded input, checks every job's output, and prints, as the
last stdout line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``;
the per-layer metrics with ``--trace 1``).

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 10 --trace 0

Everything the run writes goes under ``.perfbench_work/`` next to this
directory; the run's inputs and outputs are removed when it ends, its
record (``runs/``) and, when traced, its spans (``traces/``) are kept.
See README.md for the workloads and how the metrics relate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "vlm_ocr_pipeline_spark"

SETUPS = 3            # set-ups per run; setup_s is their median
MIN_JOBS = 3          # timed jobs per untraced run, even past --seconds
STEAL_FLAG_PCT = 1.0
DRIVER_MEM = "1g"

END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "written_bytes_per_row": "bytes/row",
}

# per-layer metric -> unit; every traced run prints all of them, with 0
# for a layer the workload leaves idle
PER_LAYER = {
    **{m: "ms/page" for m in (
        "charset.decode_ms", "html_extract.page_ms", "pdf_extract.spans_ms",
        "pdf_extract.blocks_ms", "stages.order_ms", "correction.span_merge_ms",
        "correction.ratio_ms", "rendering.compose_ms", "rendering.render_ms",
        "stages.detect_batch_ms", "stages.order_batch_ms", "stages.finish_batch_ms")},
    "stages.pages.html": "count", "stages.pages.pdf": "count",
    "stages.pages.empty": "count", "stages.blocks_per_page": "blocks/page",
    "stages.status.complete": "count", "stages.status.incomplete": "count",
    "stages.status.partial": "count",
    "arrow.python_start_ms": "ms", "arrow.python_init_ms": "ms",
    "arrow.python_run_ms": "ms", "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_ms": "ms", "spark.shuffle_write_ms": "ms",
    "spark.task_ms_p50": "ms", "spark.task_ms_max": "ms",
    "spark.failed_tasks": "count",
    "lineage.partition_ms_p50": "ms", "lineage.partition_ms_max": "ms",
    "lineage.docs_per_partition_min": "count",
    "lineage.docs_per_partition_max": "count",
    "checkpoint.bytes_written.detect": "bytes",
    "checkpoint.bytes_written.order": "bytes",
    "checkpoint.bytes_written.text": "bytes",
    "checkpoint.bytes_written.lineage": "bytes",
    "checkpoint.rows_skipped": "count", "checkpoint.duplicate_keys": "count",
    "text_dedup.exact_ms": "ms", "text_dedup.neardup_ms": "ms",
    "text_dedup.dup_spans_ms": "ms", "text_dedup.neardup_rounds": "count",
    "text_dedup.lsh_candidate_pairs": "count",
    "text_dedup.pair_precision": "ratio",
    "spark.persistent_rdds_after": "count",
    "spark.storage_memory_bytes": "bytes",
    "trace.self_ms.plans.session": "ms", "trace.self_ms.plans.pipeline": "ms",
    "trace.self_ms.spark.stage": "ms", "trace.self_ms.operators.stages": "ms",
    "trace.self_ms.functions": "ms", "trace.self_ms.operators.text_dedup": "ms",
    "trace.self_ms.perfbench": "ms", "trace.remainder_ms": "ms",
    "trace.rows_per_s_traced": "rows/s", "trace.rows_per_s_untraced": "rows/s",
    "trace.overhead_pct": "%",
}

# span-name prefix -> self-time metric (first match wins)
SELF_TIME_LAYERS = (
    ("perfbench.run", "trace.remainder_ms"),
    ("plans.session", "trace.self_ms.plans.session"),
    ("plans.pipeline", "trace.self_ms.plans.pipeline"),
    ("spark.stage", "trace.self_ms.spark.stage"),
    ("operators.stages", "trace.self_ms.operators.stages"),
    ("functions.", "trace.self_ms.functions"),
    ("operators.text_dedup", "trace.self_ms.operators.text_dedup"),
    ("perfbench.", "trace.self_ms.perfbench"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Harness:
    """Carries the live session.  In a traced run each section gets its
    own Spark job group, so its stages and SQL executions can be read
    back from the status stores and its stages attached to its span."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.spark = None
        self.sections: list[tuple[str, str | None, int | None, float]] = []
        self._seq = 0

    @contextmanager
    def section(self, name: str):
        with self.tracer.span(name) as sid:
            label = None
            sc = self.spark.sparkContext
            if self.tracer.enabled:
                self._seq += 1
                label = f"perfbench-{self._seq}"
                sc.setJobGroup(label, label)
            t0 = time.perf_counter()
            try:
                yield
            finally:
                dt = time.perf_counter() - t0
                if label is not None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                self.sections.append((name, label, sid, dt))

    def read_stores(self) -> dict[str, float]:
        """Stage and Arrow-boundary metrics of the sections run since the
        last call; attaches each section's Spark stages to its span."""
        import probes

        sections, self.sections = self.sections, []
        if not self.tracer.enabled:
            return {}
        probes.drain_listeners(self.spark)
        out = dict.fromkeys(probes.STAGE_METRICS, 0.0)
        out.update(dict.fromkeys(probes.ARROW_METRICS.values(), 0.0))
        durations: list[float] = []
        for _, label, sid, _ in sections:
            sums, task_ms, stages = probes.stage_metrics(self.spark, label)
            durations.extend(task_ms)
            for k, v in sums.items():
                out[k] += v
            for k, v in probes.arrow_metrics(self.spark, label).items():
                out[k] += v
            # stages of one section may overlap; clip so that self times
            # add up to wall time instead of counting overlap twice
            last_end = 0.0
            for stage_id, start, end in sorted(stages, key=lambda s: s[1]):
                start = max(start, last_end)
                if end > start:
                    self.tracer.add("spark.stage", start, end, sid, stage_id=stage_id)
                    last_end = end
        if durations:
            out["spark.task_ms_p50"] = statistics.median(durations)
            out["spark.task_ms_max"] = max(durations)
        out.update(probes.storage(self.spark))
        return out


def start_session(master: str, pyfiles: str):
    from vlm_ocr_pipeline_spark.plans.session import get_spark

    spark = get_spark(app="perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    # ship the package to the Python workers, as spark-submit --py-files
    # would: they must not depend on the driver's working directory
    spark.sparkContext.addPyFile(pyfiles)
    return spark


def zip_package(dest: str) -> str:
    path = os.path.join(dest, f"{PACKAGE}.zip")
    with zipfile.ZipFile(path, "w") as z:
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, PACKAGE)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, ROOT))
    return path


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed driver heap: get_spark's 8g default lets the JVM grow its
    # heap by a different amount each run, which peak_rss_mb would show
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit first runs a launcher JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell"
    )


def shutdown(h: Harness) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    import probes

    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if h.spark is not None:
            h.spark.stop()
            h.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            # the JVM exits when its stdin pipe closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    probes.reap_descendants(os.getpid())


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args, wl, h: Harness, master: str, pyfiles: str) -> dict:
    import probes
    import replay

    tracer = h.tracer
    setups: list[float] = []
    jobs: list[dict] = []
    with tracer.span("perfbench.run"):
        with tracer.span("perfbench.generate"):
            # a separate process, so the generator's memory stays out of
            # the driver's peak RSS
            subprocess.run([sys.executable, os.path.join(HERE, "workloads.py"),
                            args.workload, str(args.seed), wl.work], check=True)
            wl.expect()
        for _ in range(SETUPS):
            if h.spark is not None:
                with tracer.span("perfbench.restart"):
                    h.spark.stop()
            t0 = time.perf_counter()
            with tracer.span("perfbench.setup"):
                with tracer.span("plans.session"):
                    h.spark = start_session(master, pyfiles)
                wl.warm_up(h.spark, h)
            setups.append(time.perf_counter() - t0)
            h.read_stores()
        with tracer.span("perfbench.prepare"):
            wl.prepare(h.spark, h)
            h.read_stores()

        # closed loop: one job at a time.  The first job on the full
        # input after set-up still runs slow, so it primes and is not
        # counted.  A traced run then alternates plain and traced jobs so
        # both see the same drift.
        with tracer.span("perfbench.prime"):
            wl.before_job()
            wl.job(h.spark, h, False)
            h.read_stores()
        modes = [False, True] if args.trace else [False]
        min_jobs = 2 if args.trace else MIN_JOBS
        measured = 0.0
        while measured < args.seconds or len(jobs) < min_jobs:
            traced = modes[len(jobs) % len(modes)]
            with tracer.span("perfbench.prepare"):
                wl.before_job()
            t0 = time.perf_counter()
            wl.job(h.spark, h, traced)
            dt = time.perf_counter() - t0
            measured += dt
            with tracer.span("perfbench.check"):
                outcome = wl.check(traced)
            layers = dict(outcome.layers)
            with tracer.span("perfbench.read_stores"):
                stores = h.read_stores()
                if traced:
                    layers.update(stores)
                    layers.update(wl.traced_layers(h.spark, h))
                    h.read_stores()
            jobs.append({"seconds": dt, "traced": traced, "attempted": outcome.attempted,
                         "failed": outcome.failed, "committed": outcome.committed,
                         "written_bytes": outcome.written_bytes, "layers": layers})
        peak_rss = probes.tree_peak_rss_mb(os.getpid())

        kernel = {}
        if args.trace:
            batch = wl.capture()
            if batch is not None:
                kernel = replay.replay(batch, tracer)
    return {"setups": setups, "jobs": jobs, "peak_rss_mb": peak_rss, "kernel": kernel}


def end_to_end(res: dict) -> dict[str, float]:
    jobs = res["jobs"]
    return {
        "rows_per_s": median([j["committed"] / j["seconds"] for j in jobs]),
        "setup_s": median(res["setups"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "written_bytes_per_row": median([j["written_bytes"] / max(j["committed"], 1) for j in jobs]),
    }


def per_layer(res: dict, tracer) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER, 0.0)
    traced = [j for j in res["jobs"] if j["traced"]]
    for key in set().union(*(j["layers"] for j in traced)):
        out[key] = median([j["layers"][key] for j in traced if key in j["layers"]])
    out.update(res["kernel"])
    for name, ms in tracer.self_ms().items():
        for prefix, metric in SELF_TIME_LAYERS:
            if name.startswith(prefix):
                out[metric] += ms
                break
    plain = median([j["committed"] / j["seconds"] for j in res["jobs"] if not j["traced"]])
    with_trace = median([j["committed"] / j["seconds"] for j in traced])
    out["trace.rows_per_s_untraced"] = plain
    out["trace.rows_per_s_traced"] = with_trace
    out["trace.overhead_pct"] = 100.0 * (plain - with_trace) / plain if plain else 0.0
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"metrics missing from the catalog: {sorted(unknown)}")
    return out


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE} not found next to {HERE}: run from a full checkout")
        return 2

    from spans import Tracer
    import probes

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(work)
    isolate(work)
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    h = Harness(tracer)
    steal0 = probes.cpu_jiffies()
    try:
        pyfiles = zip_package(work)
        wl = WORKLOADS[args.workload](args.seed, work)
        res = run(args, wl, h, master, pyfiles)
    finally:
        shutdown(h)
        shutil.rmtree(work, ignore_errors=True)
    steal = probes.steal_pct(steal0, probes.cpu_jiffies())

    jobs = res["jobs"]
    attempted = sum(j["attempted"] for j in jobs)
    failed = sum(j["failed"] for j in jobs)
    e2e = end_to_end(res)
    metrics = per_layer(res, tracer) if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    info = probes.run_info(ROOT, master)
    info.update({"run_id": run_id, "workload": args.workload, "seed": args.seed,
                 "trace": args.trace, "steal_pct": steal, "size": wl.size,
                 "job_seconds": [j["seconds"] for j in jobs],
                 "setup_seconds": res["setups"]})
    log("run " + json.dumps(info))
    if steal >= STEAL_FLAG_PCT:
        log(f"WARNING: steal {steal:.2f}% >= {STEAL_FLAG_PCT}% during this run; "
            "a co-tenant took CPU, so its times are suspect")
    log(f"failed_share = {failed / attempted:.6f} (failed {failed} of {attempted} rows attempted)")
    for k, v in e2e.items():
        log(f"{k} = {v:.6g} {END_TO_END[k]}")
    if args.trace:
        selfs = tracer.self_ms()
        for name in sorted(selfs, key=selfs.get, reverse=True):
            log(f"self {selfs[name]:10.1f} ms  {name}")
        log(f"traced rows_per_s {metrics['trace.rows_per_s_traced']:.1f} vs untraced "
            f"{metrics['trace.rows_per_s_untraced']:.1f} "
            f"(overhead {metrics['trace.overhead_pct']:.2f}%)")
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK_ROOT, "traces", f"{run_id}.json")
        tracer.dump(trace_path)
        log(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    os.makedirs(os.path.join(WORK_ROOT, "runs"), exist_ok=True)
    with open(os.path.join(WORK_ROOT, "runs", f"{run_id}.json"), "w") as f:
        json.dump({"info": info, "attempted": attempted, "failed": failed,
                   "end_to_end": e2e, "metrics": metrics}, f)

    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
