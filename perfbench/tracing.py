"""Spans and counters recorded from outside the program, for the traced
run only.

- Kernel spans wrap the kernels' public functions while one process
  runs the workload's payload sequence in table order. A layer's self
  time is its span minus the time covered by its child spans.
- Cache hit rates come from counting lookups on the kernels'
  module-level caches, swapped for counting copies during the pass.
- Spark-side spans wrap the writer and ``collect`` calls of one job
  pass; Spark jobs and task failures come from ``setJobGroup`` plus the
  status tracker; files and bytes from walking the output directory.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import os
import threading
import time
from collections import Counter, OrderedDict

# (module, owner class or None, function, layer). Spans record their
# parent as the calls happen, so the order here does not matter.
KERNEL_FUNCTIONS = (
    ("pdf_inspector_spark.kernels.pdfobj", "Document", "load_mem",
     "pdfobj.load"),
    # the extractor calls decode_content through its own module name
    ("pdf_inspector_spark.kernels.extractor", None, "decode_content",
     "pdfobj.decode"),
    ("pdf_inspector_spark.kernels.detector", None, "detect_from_document",
     "detector"),
    ("pdf_inspector_spark.kernels.tounicode", "FontCMaps", "from_pdf_bytes",
     "tounicode"),
    ("pdf_inspector_spark.kernels.extractor", None,
     "extract_positioned_text_from_doc", "extractor"),
    ("pdf_inspector_spark.kernels.pipeline", None, "items_to_text_and_spans",
     "reading_order"),
    ("pdf_inspector_spark.kernels.markdown", None, "detect_tables", "tables"),
    ("pdf_inspector_spark.kernels.pipeline", None, "to_markdown_from_items",
     "markdown"),
    ("pdf_inspector_spark.kernels.pipeline", None, "process_pdf_mem",
     "pipeline"),
)
KERNEL_LAYERS = tuple(f[3] for f in KERNEL_FUNCTIONS)

# metric prefix -> (module, module-level cache)
CACHES = {
    "cache.result_lru": ("pdf_inspector_spark.kernels.pipeline",
                         "_result_cache"),
    "cache.intern": ("pdf_inspector_spark.kernels.pdfobj", "_obj_intern"),
    "cache.decode": ("pdf_inspector_spark.kernels.pdfobj", "_decode_cache"),
}


class Spans:
    """In-memory spans (name, start, end, parent index) of one thread."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else -1
            idx = len(self.spans)
            span = [name, time.perf_counter(), 0.0, parent]
            self.spans.append(span)
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                self._stack.pop()
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time of direct children."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: Counter = Counter()
        for i, (name, start, end, _parent) in enumerate(self.spans):
            out[name] += end - start - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, start, end, parent in self.spans:
                f.write(json.dumps([name, start, end, parent]) + "\n")


class _CountingCache(OrderedDict):
    """A copy of a kernel cache that counts lookups and hits."""

    def __init__(self, src) -> None:
        super().__init__(src)
        self.lookups = 0
        self.hits = 0

    def get(self, key, default=None):
        self.lookups += 1
        value = super().get(key, default)
        if value is not None:
            self.hits += 1
        return value


def _caches():
    for metric, (mod, attr) in CACHES.items():
        module = importlib.import_module(mod)
        if hasattr(module, attr):
            yield metric, module, attr


def clear_caches() -> None:
    for _metric, module, attr in _caches():
        getattr(module, attr).clear()


def kernel_pass(payloads: list[bytes], with_markdown: bool,
                spans: Spans | None = None) -> dict:
    """Run ``process_pdf_mem`` over the payloads in one process, caches
    cleared first. With ``spans``, every kernel function records a span
    and the caches count their lookups."""
    kp = importlib.import_module("pdf_inspector_spark.kernels.pipeline")
    clear_caches()
    restore = []
    counting = {}
    if spans is not None:
        for mod, owner_name, fn_name, layer in KERNEL_FUNCTIONS:
            module = importlib.import_module(mod)
            owner = getattr(module, owner_name) if owner_name else module
            if fn_name not in vars(owner):
                continue  # the function is gone; its layer reads 0
            restore.append((owner, fn_name, vars(owner)[fn_name]))
            wrapped = spans.wrap(layer, getattr(owner, fn_name))
            setattr(owner, fn_name,
                    staticmethod(wrapped) if owner_name else wrapped)
        for metric, module, attr in _caches():
            restore.append((module, attr, getattr(module, attr)))
            counting[metric] = _CountingCache(getattr(module, attr))
            setattr(module, attr, counting[metric])
    errors: Counter = Counter()
    try:
        t0 = time.perf_counter()
        for buf in payloads:
            r = kp.process_pdf_mem(buf, with_markdown=with_markdown)
            if r["error_kind"] is not None:
                errors[r["error_kind"]] += 1
        wall = time.perf_counter() - t0
    finally:
        for owner, name, original in reversed(restore):
            setattr(owner, name, original)
    hit_rates = {m: (c.hits / c.lookups if c.lookups else 0.0)
                 for m, c in counting.items()}
    return {"wall_s": wall, "errors": errors, "hit_rates": hit_rates}


def dedup_ratio(payloads: list[bytes]) -> float:
    keys = {hashlib.sha256(p).digest() + len(p).to_bytes(8, "big")
            for p in payloads}
    return len(keys) / len(payloads)


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------

class SparkCalls:
    """Times top-level writer and collect calls while active, by the
    path they write to: the turns output, the lineage log, or other."""

    def __init__(self, out: str) -> None:
        self.out = out
        self.seconds: Counter = Counter()
        self._depth = threading.local()
        self._restore = []

    def _timed(self, fn, kind_of):
        calls = self

        def traced(*args, **kwargs):
            depth = getattr(calls._depth, "n", 0)
            calls._depth.n = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                calls._depth.n = depth
                if depth == 0:
                    calls.seconds[kind_of(args)] += time.perf_counter() - t0
        return traced

    def _write_kind(self, args) -> str:
        path = os.path.abspath(str(args[1]))
        if path.startswith(os.path.join(self.out, "turns")):
            return "write"
        if path.startswith(os.path.join(self.out, "_lineage")):
            return "commit"
        return "other"

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import pdf_inspector_spark.lineage as lineage
        patches = [(DataFrameWriter, "parquet", self._write_kind),
                   # read-back of landed counts and of the lineage log
                   (DataFrame, "collect", lambda args: "commit"),
                   (lineage, "read_completed_buckets",
                    lambda args: "commit")]
        for owner, name, kind_of in patches:
            original = vars(owner)[name]
            self._restore.append((owner, name, original))
            setattr(owner, name, self._timed(original, kind_of))
        return self

    def __exit__(self, *exc) -> None:
        for owner, name, original in reversed(self._restore):
            setattr(owner, name, original)


def spark_jobs(spark, group: str) -> tuple[int, int]:
    """(jobs, failed tasks) of a job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    failed = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            st = tracker.getStageInfo(stage)
            failed += st.numFailedTasks if st else 0
    return len(jobs), failed


def files_written(out: str) -> tuple[int, int]:
    """(parquet files, bytes) under an output directory."""
    n = size = 0
    for root, _dirs, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def plan_passes(spark, scan_path: str, fused_path: str, dedup_path: str,
                with_markdown: bool) -> dict:
    """Seconds for the scan, the Arrow round trip and each extraction
    plan, each into a noop sink."""
    import pyspark.sql.functions as F

    from pdf_inspector_spark.pipeline import run_pipeline, run_pipeline_dedup

    def identity(batches):
        yield from batches

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    read = spark.read.parquet
    scan = noop(read(scan_path))
    arrow = noop(read(scan_path)
                 .select(F.encode("text", "ISO-8859-1").alias("payload"))
                 .mapInArrow(identity, "payload binary"))
    return {
        "scan.self_s": scan,
        "arrow.self_s": arrow - scan,
        "pipeline.fused_s": noop(run_pipeline(
            read(fused_path), with_markdown=with_markdown)),
        "pipeline.dedup_s": noop(run_pipeline_dedup(
            read(dedup_path), with_markdown=with_markdown)),
    }
