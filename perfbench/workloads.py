"""Workload inputs, the timed entry calls and the output checks.

Every workload is a closed loop with one client: one pass of the entry
call ends before the next starts. Inputs are written and outputs are
checked outside the timed window.

Files a run writes are deleted within seconds of being written. On a
disk mounted with online discard, deleting a file after the kernel has
written it back costs a discard per file (measured: 6.7 s for 1,000
files of 10 KB, against 6 ms within 30 s of writing), which would
stretch every run and disturb the passes after it.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pdf_inspector_spark import corpus, transcripts
from pdf_inspector_spark.lineage import run_with_checkpoint
from pdf_inspector_spark.streaming import stream_pipeline_with_lineage

# The transcripts table with the t-bench shape (every payload is one of
# the 35 distinct PDFs of the 100-slot pool, 1% mega conversations) at
# a size where one job pass takes seconds, not minutes.
SCALE = "t-med"
# jobs/extract_job.py runs 16 buckets per wave over 256 buckets. The
# benchmark keeps the wave width, so a wave writes as many partition
# files as a production wave, and cuts the keyspace to one wave so a
# pass fits the run budget.
NUM_BUCKETS = 16
BUCKETS_PER_WAVE = 16
# The streaming job reads 16 files per trigger: 48 files make three
# micro-batches.
STREAM_FILES = 48
# Distinct documents per pass. Each pass reads a table of its own, so
# no cache in a reused Python worker sees a document twice in a run.
DISTINCT_DOCS = 1000
DISTINCT_ROWS_PER_FILE = 64
TURNS_PER_CONV = 8


@dataclass
class Input:
    path: str
    expected: dict[tuple[str, int], dict]


def _done(path: str, stamp: str) -> bool:
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        return f.read().strip() == stamp


def _mark_done(path: str, stamp: str) -> None:
    with open(os.path.join(path, "_SUCCESS"), "w") as f:
        f.write(stamp + "\n")


def _expected_repeat() -> dict[tuple[str, int], dict]:
    out = {}
    for e in transcripts.expected_turns(SCALE):
        rec = {"pdf_type": e["pdf_type"], "text_out": e["text"],
               "error_kind": e["error_kind"], "n_spans": e["n_spans"],
               "ocr_recommended": e["ocr_recommended"],
               "markdown": e["markdown"]}
        out[(e["conv_id"], e["turn_idx"])] = rec
    return out


# ---------------------------------------------------------------------------
# Distinct-document generator
# ---------------------------------------------------------------------------

_VOCAB = ("table", "column", "scan", "batch", "stream", "window", "order",
          "query", "merge", "value", "filter", "record", "partition",
          "ledger", "invoice", "account", "payment", "summary", "report",
          "quarter", "revenue", "balance", "section", "figure", "appendix",
          "contract", "party", "clause", "notice", "schedule", "review")
_BASE_FONTS = (b"Helvetica", b"Times-Roman", b"Courier", b"Arial",
               b"Georgia", b"Verdana", b"Helvetica-Oblique", b"Tahoma")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _sentence(rng: random.Random) -> str:
    words = []
    for _ in range(rng.randint(6, 11)):
        if rng.random() < 0.4:
            words.append("".join(rng.choice(_LETTERS)
                                 for _ in range(rng.randint(3, 9))))
        else:
            words.append(rng.choice(_VOCAB))
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice((".", ",", ";", ""))


def distinct_doc(rng: random.Random, tag: str) -> tuple[bytes, str]:
    """One multi-page PDF whose text, font, object bytes and page count
    come from ``rng``; returns the PDF and the text the kernel must
    extract (the lines in page order, joined with newlines).

    Every object carries ``tag``, so no object span repeats across
    documents."""
    tagged = f"/PBId ({tag})".encode()
    n_pages = rng.randint(2, 4)
    size = rng.choice((9, 10, 11, 12))
    lead = size + rng.randint(3, 5)
    per_page = rng.randint(18, 26)
    page_nums = [4 + 2 * p for p in range(n_pages)]
    objs = corpus._catalog_and_pages(page_nums)
    objs = {k: v[:-2] + tagged + b" >>" for k, v in objs.items()}
    widths = b" ".join(str(rng.randint(220, 280) if c == 32
                           else rng.randint(400, 650)).encode()
                       for c in range(32, 127))
    objs[3] = (b"<< /Type /Font /Subtype /Type1 /BaseFont /"
               + rng.choice(_BASE_FONTS)
               + b" /Encoding /WinAnsiEncoding /FirstChar 32 /LastChar 126"
               + b" /Widths [" + widths + b"] " + tagged + b" >>")
    lines: list[str] = []
    for pn in page_nums:
        page_lines = [_sentence(rng) for _ in range(per_page)]
        ops = [(72.0, 740.0 - k * lead, float(size), s.encode())
               for k, s in enumerate(page_lines)]
        objs[pn] = corpus._page(pn, pn + 1, b"<< /Font << /F1 3 0 R >> >>",
                                extra=tagged + b" ")
        objs[pn + 1] = corpus._stream_obj(b"<< >>", corpus._text_ops(ops),
                                          compress=rng.random() < 0.5)
        lines += page_lines
    return corpus.build_pdf(objs), "\n".join(lines)


def write_distinct_table(path: str, seed: int, pass_idx: int) -> dict:
    """Write one pass's table of distinct documents; return the expected
    per-turn output keyed by (conv_id, turn_idx)."""
    cols: dict[str, list] = {f.name: [] for f in transcripts.SCHEMA}
    expected = {}
    os.makedirs(path)
    for i in range(DISTINCT_DOCS):
        conv_id = f"dd-{seed}-{pass_idx}-{i // TURNS_PER_CONV:05d}"
        turn = i % TURNS_PER_CONV
        pdf, text = distinct_doc(random.Random(f"{seed}:{pass_idx}:{i}"),
                                 f"{conv_id}:{turn}")
        cols["conv_id"].append(conv_id)
        cols["turn_idx"].append(turn)
        cols["role"].append("tool")
        cols["text"].append(pdf.decode("latin-1"))
        cols["tool"].append("pdf_reader")
        cols["ts"].append(transcripts.BASE_TS)
        expected[(conv_id, turn)] = {
            "pdf_type": "text_based", "text_out": text, "error_kind": None,
            "n_spans": text.count("\n") + 1}
    table = pa.Table.from_pydict(cols, schema=transcripts.SCHEMA)
    for k in range(0, table.num_rows, DISTINCT_ROWS_PER_FILE):
        pq.write_table(table.slice(k, DISTINCT_ROWS_PER_FILE),
                       os.path.join(path, f"part-{k:05d}.parquet"),
                       compression="zstd")
    return expected


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Workload:
    """A workload's inputs: one table per pass for the wave job and, for
    the traced run's streaming passes, a pass's rows as small files.
    ``scratch`` holds the files of this run only."""
    name = ""

    def __init__(self, cache: str, scratch: str, seed: int):
        self.cache = cache
        self.scratch = scratch
        self.seed = seed

    def table(self, pass_idx: int) -> Input:
        raise NotImplementedError

    def release(self, pass_idx: int) -> None:
        """Delete the input files made for this pass only."""

    def stream_files(self, pass_idx: int) -> Input:
        """The pass's rows as STREAM_FILES small parquet files, next to
        the table. The streaming job extracts without markdown."""
        src = self.table(pass_idx)
        path = f"{src.path}-files{STREAM_FILES}"
        with open(os.path.join(src.path, "_SUCCESS")) as f:
            stamp = f.read().strip()
        if not _done(path, stamp):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            rows = ds.dataset(src.path, format="parquet").to_table()
            per_file = -(-rows.num_rows // STREAM_FILES)
            for k in range(0, rows.num_rows, per_file):
                pq.write_table(rows.slice(k, per_file),
                               os.path.join(path, f"part-{k:06d}.parquet"),
                               compression="zstd")
            _mark_done(path, stamp)
        expected = {k: {**v, "markdown": None} if "markdown" in v else v
                    for k, v in src.expected.items()}
        return Input(path, expected)

    @staticmethod
    def run_job(spark, path: str, out: str) -> None:
        """The production wave job (jobs/extract_job.py's call)."""
        run_with_checkpoint(spark, path, out, os.path.basename(out),
                            num_buckets=NUM_BUCKETS,
                            buckets_per_wave=BUCKETS_PER_WAVE,
                            with_markdown=True)

    @staticmethod
    def run_stream(spark, path: str, out: str):
        """The streaming job, drained with ``availableNow``."""
        return stream_pipeline_with_lineage(
            spark, path, out, out + "_checkpoint",
            run_id=os.path.basename(out))


class RepeatHeavy(Workload):
    """The fixed t-med table, built once per checkout and kept."""
    name = "repeat_heavy"

    def table(self, pass_idx: int) -> Input:
        if not hasattr(self, "_input"):
            path = transcripts.write_transcripts(SCALE, data_dir=self.cache)
            self._input = Input(path, _expected_repeat())
        return self._input


class DistinctDocs(Workload):
    """A table of fresh documents per pass, made from the seed and the
    pass index, so a reused Python worker never sees a document twice."""
    name = "distinct_docs"

    def __init__(self, cache: str, scratch: str, seed: int):
        super().__init__(cache, scratch, seed)
        self._inputs: dict[int, Input] = {}

    def table(self, pass_idx: int) -> Input:
        if pass_idx not in self._inputs:
            path = os.path.join(self.scratch, f"distinct-pass{pass_idx}")
            expected = write_distinct_table(path, self.seed, pass_idx)
            _mark_done(path, f"seed={self.seed};pass={pass_idx}")
            self._inputs[pass_idx] = Input(path, expected)
        return self._inputs[pass_idx]

    def release(self, pass_idx: int) -> None:
        inp = self._inputs.pop(pass_idx, None)
        if inp is not None:
            shutil.rmtree(inp.path)
            shutil.rmtree(f"{inp.path}-files{STREAM_FILES}",
                          ignore_errors=True)


WORKLOADS = {w.name: w for w in (RepeatHeavy, DistinctDocs)}


# ---------------------------------------------------------------------------
# Output checks and input properties
# ---------------------------------------------------------------------------

def check_output(out: str, expected: dict[tuple[str, int], dict]
                 ) -> tuple[int, int]:
    """Compare the landed turns (good and quarantined) with the expected
    per-turn output. Returns (turns landed, turns missing or wrong)."""
    turns = os.path.join(out, "turns")
    if not os.path.isdir(turns):
        return 0, len(expected)
    cols = ["conv_id", "turn_idx", "pdf_type", "text_out", "error_kind",
            "ocr_recommended", "markdown", "spans"]
    t = ds.dataset(turns, format="parquet").to_table(columns=cols)
    t = t.append_column("n_spans", pc.fill_null(
        pc.list_value_length(t["spans"]), 0)).drop_columns(["spans"])
    seen: set[tuple[str, int]] = set()
    bad = 0
    for row in t.to_pylist():
        key = (row["conv_id"], row["turn_idx"])
        want = expected.get(key)
        if want is None or key in seen or any(
                row[f] != v for f, v in want.items()):
            bad += 1
        seen.add(key)
    return t.num_rows, bad + len(expected.keys() - seen)


_OBJ_RE = re.compile(rb"\d+\s+\d+\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.DOTALL)


def repeat_shares(payloads: list[bytes]) -> dict[str, float]:
    """Share of repeated units at the three levels the kernel caches key
    on: whole payloads, object spans and stream bodies."""
    def share(units) -> float:
        digests = [hashlib.sha256(u).digest() for u in units]
        return 1 - len(set(digests)) / len(digests) if digests else 0.0

    spans = [m.group(1) for p in payloads for m in _OBJ_RE.finditer(p)]
    streams = [m.group(1) for s in spans for m in _STREAM_RE.finditer(s)]
    return {"payload": share(payloads), "object_span": share(spans),
            "stream": share(streams)}


def payload_sequence(path: str) -> list[bytes]:
    """The workload's payloads in table order (file name, then row)."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    out: list[bytes] = []
    for f in files:
        col = pq.read_table(os.path.join(path, f), columns=["text"])["text"]
        out += [s.encode("latin-1") for s in col.to_pylist()]
    return out
