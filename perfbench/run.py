"""Benchmark of the production extraction job as its users pay for it.

    python3 perfbench/run.py --workload repeat_heavy --seed 1 --seconds 12 --trace 0

Workloads (why each was chosen: perfbench/README.md):
  repeat_heavy   the wave job over the repeat-heavy transcripts table
  distinct_docs  the wave job over distinct generated documents

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the traced passes and reports the per-layer metrics;
it also drains the workload's rows through the streaming job.
Each metric is printed as one line (name, unit, median, quartiles, n);
the last line of standard output is the result as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import perfbench.* and the package from the checkout root, and let no
# file in this directory shadow a standard module
sys.path[0] = ROOT

from perfbench import spark_setup  # noqa: E402  (stdlib-only import)

# the keys of workloads.WORKLOADS, named here so that a bad argument
# fails before the package and PySpark are imported
WORKLOAD_NAMES = ("repeat_heavy", "distinct_docs")
SETUPS = 3
MIN_WARM_PASSES = 3
NOMINAL_PASS_S = 3.0

END_TO_END = {"turns_per_s": "1/s", "cold_run_s": "s", "setup_s": "s",
              "worker_peak_rss_mb": "MB"}
PER_LAYER = {
    "scan.self_s": "s", "arrow.self_s": "s",
    "pipeline.fused_s": "s", "pipeline.dedup_s": "s",
    "pipeline.dedup_ratio": "ratio",
    "kernels.pdfobj.load_us": "us", "kernels.pdfobj.decode_us": "us",
    "kernels.detector_us": "us", "kernels.tounicode_us": "us",
    "kernels.extractor_us": "us", "kernels.reading_order_us": "us",
    "kernels.tables_us": "us", "kernels.markdown_us": "us",
    "kernels.pipeline_us": "us", "kernels.docs": "count",
    "kernels.errors.ValueError": "count", "kernels.errors.other": "count",
    "kernels.ceiling_turns_per_s": "1/s", "kernels.share_of_job": "ratio",
    "cache.result_lru.hit_rate": "ratio", "cache.intern.hit_rate": "ratio",
    "cache.decode.hit_rate": "ratio",
    "lineage.write_s": "s", "lineage.commit_s": "s",
    "lineage.files_written": "count", "lineage.bytes_written": "B",
    "lineage.spark_jobs": "count",
    "streaming.batches": "count", "streaming.spark_jobs_per_batch": "count",
    "streaming.batch_s": "s",
    "spark.task_failures": "count", "spark.jvm_peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
    "trace.kernel_overhead_share": "ratio",
}


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress on standard error, with seconds since start."""
    print(f"perfbench {time.monotonic() - _T0:7.1f}s {msg}", file=sys.stderr,
          flush=True)


@dataclass
class Pass:
    wall_s: float
    landed: int
    failed: int
    attempted: int
    batch_s: list[float] = field(default_factory=list)
    layers: dict = field(default_factory=dict)


# ---------------------------------------------------------------------------
# Processes and memory, from /proc
# ---------------------------------------------------------------------------

def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += children.get(pid, ())
    return out


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def worker_processes(jvm_pid: int) -> list[int]:
    """The Python worker daemons and their forked workers. The JVM's
    other children are short-lived helpers it forks to run shell
    commands."""
    pids = []
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    pids.append(pid)
        except OSError:
            continue
    return pids


class RssSampler:
    """Peak summed RSS of the Python workers, where the kernel caches
    live, and peak RSS of the JVM."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2) -> None:
        self.workers_peak = 0
        self.jvm_peak = 0
        self._jvm_pid = jvm_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.workers_peak = max(
                self.workers_peak,
                rss_bytes(worker_processes(self._jvm_pid)))
            self.jvm_peak = max(self.jvm_peak, rss_bytes([self._jvm_pid]))
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_gone(pids: list[int], timeout_s: float = 15.0) -> None:
    """Wait for processes to end; kill the ones still there after the
    timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------

def run_pass(spark, wl, idx: int, runs_dir: str, traced: bool = False,
             stream: bool = False, release: bool = True) -> Pass:
    """One pass of the wave job (or, with ``stream``, a drain of the
    streaming job) on a fresh output directory. Only the entry call is
    timed; the input is prepared before it, the output is checked and
    deleted after it, and so is the pass's own input unless the caller
    still needs it."""
    from perfbench import tracing, workloads

    inp = wl.stream_files(idx) if stream else wl.table(idx)
    entry = wl.run_stream if stream else wl.run_job
    out = os.path.join(runs_dir, f"pass{idx}")
    layers: dict = {}
    if traced:
        group = f"perfbench-pass{idx}"
        spark.sparkContext.setJobGroup(group, "traced pass")
        with tracing.SparkCalls(out) as calls:
            t0 = time.perf_counter()
            query = entry(spark, inp.path, out)
            wall = time.perf_counter() - t0
        jobs, task_failures = tracing.spark_jobs(spark, group)
        if query is not None:
            # micro-batch jobs run under the query's own job group
            j, f = tracing.spark_jobs(spark, str(query.runId))
            jobs, task_failures = jobs + j, task_failures + f
        files, size = tracing.files_written(out)
        layers = {"write_s": calls.seconds["write"],
                  "commit_s": calls.seconds["commit"], "files": files,
                  "bytes": size, "jobs": jobs,
                  "task_failures": task_failures}
    else:
        t0 = time.perf_counter()
        query = entry(spark, inp.path, out)
        wall = time.perf_counter() - t0
    batch_s = [] if query is None else [
        p["durationMs"]["triggerExecution"] / 1000
        for p in query.recentProgress if p["numInputRows"] > 0]
    landed, failed = workloads.check_output(out, inp.expected)
    for d in (out, out + "_checkpoint"):
        shutil.rmtree(d, ignore_errors=True)
    if release:
        wl.release(idx)
    log(f"pass {idx}{' stream' if stream else ''}: {wall:.3f}s, "
        f"{landed} turns, {failed} failed")
    return Pass(wall, landed, failed, len(inp.expected), batch_s, layers)


def open_session() -> tuple:
    spark, seconds = spark_setup.open_session()
    log(f"set-up: {seconds:.3f}s")
    return spark, seconds


def close_session(spark) -> None:
    """Close the session and wait until the JVM and its workers end."""
    children = descendants(os.getpid())
    spark_setup.close_session(spark)
    wait_gone(children)


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


def cold_probe(args, idx: int) -> dict:
    """Set up a session and run cold pass ``idx`` in a fresh process, as
    a spark-submit of the job would."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--probe", str(idx)],
        stdout=subprocess.PIPE, text=True, check=True, timeout=170)
    return json.loads(proc.stdout.splitlines()[-1])


def probe_run(wl, runs_dir: str, idx: int) -> None:
    spark, took = open_session()
    try:
        cold = run_pass(spark, wl, idx, runs_dir)
    finally:
        close_session(spark)
    print(json.dumps({"setup_s": took, "pass": asdict(cold)}))


def measured_run(args, wl, runs_dir: str) -> dict:
    """Untraced: SETUPS sessions, each set up and given a cold pass in a
    fresh process (the last one in this process), then a warm-up pass
    and the measured warm passes. Their number follows from ``seconds``
    alone, so every run and every commit measures the same pass
    indices."""
    n_warm = max(MIN_WARM_PASSES, math.ceil(args.seconds / NOMINAL_PASS_S))
    probes = [cold_probe(args, idx) for idx in range(SETUPS - 1)]
    setup_s = [p["setup_s"] for p in probes]
    cold = [Pass(**p["pass"]) for p in probes]
    idx = len(cold)
    spark, took = open_session()
    setup_s.append(took)
    try:
        with RssSampler(jvm_pid()) as rss:
            cold.append(run_pass(spark, wl, idx, runs_dir))
            warm_up = run_pass(spark, wl, idx + 1, runs_dir)
            warm = [run_pass(spark, wl, idx + 2 + i, runs_dir)
                    for i in range(n_warm)]
    finally:
        close_session(spark)
    samples = {
        "turns_per_s": [p.landed / p.wall_s for p in warm],
        "cold_run_s": [p.wall_s for p in cold],
        "setup_s": setup_s,
        "worker_peak_rss_mb": [rss.workers_peak / 2**20],
        "pass_s": [p.wall_s for p in warm],
    }
    return {"samples": samples, "passes": [*cold, warm_up, *warm]}


def traced_run(spark, wl, runs_dir: str, work: str) -> dict:
    """Traced: a cold and a warm-up pass of the wave job, then a traced
    warm pass between two untraced ones, the plan passes into noop
    sinks, an untraced and a traced drain of the streaming job, and an
    untraced and a traced kernel pass over the traced job pass's
    payloads in one process."""
    from perfbench import tracing, workloads

    with RssSampler(jvm_pid()) as rss:
        job = [run_pass(spark, wl, 0, runs_dir),
               run_pass(spark, wl, 1, runs_dir),
               run_pass(spark, wl, 2, runs_dir)]
        traced = run_pass(spark, wl, 3, runs_dir, traced=True,
                          release=False)
        job += [traced, run_pass(spark, wl, 4, runs_dir)]
        payloads = workloads.payload_sequence(wl.table(3).path)
        layers = tracing.plan_passes(spark, wl.table(3).path,
                                     wl.table(5).path, wl.table(6).path,
                                     with_markdown=True)
        for idx in (3, 5, 6):
            wl.release(idx)
        stream_warm = run_pass(spark, wl, 7, runs_dir, stream=True)
        drain = run_pass(spark, wl, 8, runs_dir, traced=True, stream=True)
    # untraced passes right before and after the traced one
    plain_s = (job[2].wall_s + job[4].wall_s) / 2
    layers["spark.jvm_peak_rss_mb"] = rss.jvm_peak / 2**20
    # load the kernels' lazily imported modules before timing anything
    tracing.kernel_pass(payloads[:100], with_markdown=True)
    bare = tracing.kernel_pass(payloads, with_markdown=True)
    spans = tracing.Spans()
    kern = tracing.kernel_pass(payloads, with_markdown=True, spans=spans)
    spans.dump(os.path.join(work, f"spans-{wl.name}.jsonl"))
    self_s = spans.self_times()
    docs = len(payloads)
    for layer in tracing.KERNEL_LAYERS:
        layers[f"kernels.{layer}_us"] = self_s.get(layer, 0.0) / docs * 1e6
    errors = kern["errors"]
    layers["kernels.docs"] = docs
    layers["kernels.errors.ValueError"] = errors.get("ValueError", 0)
    layers["kernels.errors.other"] = sum(errors.values()) - errors.get(
        "ValueError", 0)
    layers["kernels.ceiling_turns_per_s"] = (
        docs / bare["wall_s"] * spark_setup.nproc())
    layers["kernels.share_of_job"] = sum(self_s.values()) / traced.wall_s
    for metric in tracing.CACHES:
        layers[f"{metric}.hit_rate"] = kern["hit_rates"].get(metric, 0.0)
    layers["pipeline.dedup_ratio"] = tracing.dedup_ratio(payloads)
    counts = traced.layers
    layers.update({"lineage.write_s": counts["write_s"],
                   "lineage.commit_s": counts["commit_s"],
                   "lineage.files_written": counts["files"],
                   "lineage.bytes_written": counts["bytes"],
                   "lineage.spark_jobs": counts["jobs"]})
    n_batches = len(drain.batch_s)
    layers["streaming.batches"] = n_batches
    layers["streaming.spark_jobs_per_batch"] = (
        drain.layers["jobs"] / n_batches if n_batches else 0)
    layers["streaming.batch_s"] = (
        statistics.median(drain.batch_s) if n_batches else 0.0)
    layers["spark.task_failures"] = (counts["task_failures"]
                                     + drain.layers["task_failures"])
    layers["trace.overhead_share"] = (traced.wall_s - plain_s) / plain_s
    layers["trace.kernel_overhead_share"] = (
        (kern["wall_s"] - bare["wall_s"]) / bare["wall_s"])
    shares = workloads.repeat_shares(payloads)
    return {"samples": {k: [v] for k, v in layers.items()},
            "passes": [*job, stream_warm, drain],
            "repeat_shares": shares}


# ---------------------------------------------------------------------------
# Report
# ---------------------------------------------------------------------------

def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one set-up and cold pass of an untraced run
    p.add_argument("--probe", type=int, help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    work = spark_setup.WORK
    if args.probe is None:
        for scratch in ("tmp", "spark-local", "runs"):
            shutil.rmtree(os.path.join(work, scratch), ignore_errors=True)
    spark_setup.prepare_env()
    runs_dir = os.path.join(work, "runs", str(os.getpid()))
    os.makedirs(runs_dir)
    from perfbench import workloads
    wl = workloads.WORKLOADS[args.workload](work, runs_dir, args.seed)
    try:
        if args.probe is not None:
            probe_run(wl, runs_dir, args.probe)
            return 0
        if args.trace:
            spark, _ = open_session()
            try:
                result = traced_run(spark, wl, runs_dir, work)
            finally:
                close_session(spark)
        else:
            result = measured_run(args, wl, runs_dir)
    finally:
        shutil.rmtree(runs_dir, ignore_errors=True)

    passes = result["passes"]
    for i, x in enumerate(passes):
        print(f"pass {i} wall_s={x.wall_s:.4f} landed={x.landed} "
              f"failed={x.failed}")
    attempted = sum(x.attempted for x in passes)
    failed = sum(x.failed for x in passes)
    samples = result["samples"]
    samples["failed_share"] = [failed / attempted]
    units = {**END_TO_END, **PER_LAYER, "pass_s": "s",
             "failed_share": "ratio"}
    for name, values in samples.items():
        if not values:
            continue
        med, q1, q3 = summary(values)
        print(f"metric {name} unit={units[name]} median={med:.6g} "
              f"q1={q1:.6g} q3={q3:.6g} n={len(values)}")
    for level, share in result.get("repeat_shares", {}).items():
        print(f"input repeat_share.{level}={share:.6g}")
    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {name: {"value": summary(samples[name])[0], "unit": unit}
               for name, unit in wanted.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
