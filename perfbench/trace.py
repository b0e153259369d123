"""Spans, the in-process layer replay, /proc sampling and the Spark
event log.

Spans are recorded from the benchmark's own files only: around its calls
into the package, by timing wrappers installed on module attributes of
the public ``sources``/``kernel`` functions during the replay, and from
the jobs, stages and tasks of a per-run Spark event log. The wrappers
work without a source edit because ``engine.extract_page`` resolves its
stages through module globals, ``engine.extract_document`` reaches the
codec through the ``codec`` module and ``parse_pdf_mini`` imports
``analyze_chars`` at call time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from typing import Dict, Iterable, List, Optional

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class Tracer:
    """Spans kept in memory: (id, name, start, end, parent, key).

    ``key`` groups spans of one unit of work, a document or a Spark job.
    Times are ``time.perf_counter()`` seconds, or epoch seconds for spans
    read from the event log; a tree never mixes the two."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def add(self, name: str, start: float, end: float,
            parent: Optional[int] = None, key=None) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, "key": key})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, key=None):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.perf_counter(), 0.0, parent, key)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def merge(self, other: "Tracer") -> None:
        """Append ``other``'s spans, renumbered after this tracer's."""
        base = len(self.spans)
        for s in other.spans:
            self.spans.append(dict(
                s, id=s["id"] + base,
                parent=None if s["parent"] is None else s["parent"] + base))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _covered(intervals: List[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: Dict[int, List[tuple]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - _covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


# ---------------------------------------------------------------------------
# in-process replay of the sources + kernel layers
# ---------------------------------------------------------------------------

#: (module, attribute, span name). Each kernel stage named in the
#: per-layer metrics maps to the helpers it covers.
TIMED = (
    ("parsee_pdf_reader_spark.sources.layout_codec", "decode_document",
     "sources.decode"),
    ("parsee_pdf_reader_spark.sources.pdf_mini", "parse_pdf_mini",
     "sources.pdf_parse"),
    ("parsee_pdf_reader_spark.sources.layout_group", "analyze_chars",
     "sources.group"),
    ("parsee_pdf_reader_spark.kernel.engine", "extract_page", "kernel.page"),
    ("parsee_pdf_reader_spark.kernel.engine", "tokenize", "kernel.tokenize"),
    ("parsee_pdf_reader_spark.kernel.engine", "find_rows", "kernel.find_rows"),
    ("parsee_pdf_reader_spark.kernel.engine", "build_cells",
     "kernel.build_cells"),
    ("parsee_pdf_reader_spark.kernel.engine", "find_numeric_cols",
     "kernel.find_numeric_cols"),
    ("parsee_pdf_reader_spark.kernel.engine", "find_runs", "kernel.find_runs"),
    ("parsee_pdf_reader_spark.kernel.engine", "extend_run",
     "kernel.find_runs"),
    ("parsee_pdf_reader_spark.kernel.engine", "break_runs_at_blank_lines",
     "kernel.find_runs"),
    ("parsee_pdf_reader_spark.kernel.engine", "group_areas",
     "kernel.group_areas"),
    ("parsee_pdf_reader_spark.kernel.engine", "detect_line_items",
     "kernel.detect_line_items"),
    ("parsee_pdf_reader_spark.kernel.engine", "extract_tables",
     "kernel.extract_tables"),
    ("parsee_pdf_reader_spark.kernel.engine", "reconcile",
     "kernel.extract_tables"),
    ("parsee_pdf_reader_spark.kernel.engine", "make_paragraphs",
     "kernel.make_paragraphs"),
)

KERNEL_STAGES = ("tokenize", "find_rows", "build_cells", "find_numeric_cols",
                 "find_runs", "group_areas", "detect_line_items",
                 "extract_tables", "make_paragraphs")


class Replay:
    """Single-thread replay of ``engine.extract_document`` over a fixed
    blob sample, with spans at every layer boundary and exact counts."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.counts = {"docs": 0, "pages": 0, "tokens": 0, "chars": 0,
                       "rows": 0, "grow_cell": 0, "groups": 0, "tables": 0}
        self._saved: List[tuple] = []

    def _timed(self, fn, name):
        tracer, counts = self.tracer, self.counts

        def wrapper(*a, **kw):
            with tracer.span(name, key=counts["docs"]):
                out = fn(*a, **kw)
            if name == "kernel.tokenize":
                counts["tokens"] += len(out[0])
                counts["chars"] += sum(len(t.text) for t in out[0])
            elif name == "kernel.find_rows":
                counts["rows"] += len(out)
            elif name == "kernel.group_areas":
                counts["groups"] += len(out)
            elif name == "kernel.page":
                counts["pages"] += 1
                counts["tables"] += len(out["tables"])
            return out
        return wrapper

    def _counted(self, fn):
        counts = self.counts

        def wrapper(*a, **kw):
            counts["grow_cell"] += 1
            return fn(*a, **kw)
        return wrapper

    def __enter__(self):
        import importlib

        for mod_name, attr, name in TIMED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._timed(fn, name))
        eng = importlib.import_module("parsee_pdf_reader_spark.kernel.engine")
        self._saved.append((eng, "grow_cell", eng.grow_cell))
        eng.grow_cell = self._counted(eng.grow_cell)
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._saved):
            setattr(mod, attr, fn)
        self._saved.clear()

    def run(self, blobs: Iterable[tuple]) -> float:
        """Replay every (url, blob); returns the CPU seconds taken, to
        compare with the CPU time of the Python workers."""
        from parsee_pdf_reader_spark.kernel.engine import extract_document

        t0 = time.process_time()
        for _url, blob in blobs:
            with self.tracer.span("replay.doc", key=self.counts["docs"]):
                try:
                    extract_document(bytes(blob), 2, 1)
                except Exception:  # corrupt members are part of the mix
                    pass
            self.counts["docs"] += 1
        return time.process_time() - t0

    def metrics(self) -> Dict[str, float]:
        """Self time per layer, per doc or per page, plus exact counts."""
        selfs = self_times(self.tracer.spans)
        by_name: Dict[str, float] = {}
        for s in self.tracer.spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        c = self.counts
        docs, pages = max(c["docs"], 1), max(c["pages"], 1)
        m = {
            "sources.decode_ms_per_doc":
                by_name.get("sources.decode", 0.0) * 1e3 / docs,
            "sources.pdf_parse_ms_per_doc":
                by_name.get("sources.pdf_parse", 0.0) * 1e3 / docs,
            "sources.group_ms_per_doc":
                by_name.get("sources.group", 0.0) * 1e3 / docs,
            "sources.pages_per_doc": c["pages"] / docs,
            "sources.chars_per_page": c["chars"] / pages,
            "kernel.page_ms": by_name.get("kernel.page", 0.0) * 1e3 / pages,
            "kernel.tokens_per_page": c["tokens"] / pages,
            "kernel.rows_per_page": c["rows"] / pages,
            "kernel.grow_cell_calls_per_page": c["grow_cell"] / pages,
            "kernel.groups_per_page": c["groups"] / pages,
            "kernel.tables_per_page": c["tables"] / pages,
            "kernel.table_yield": c["tables"] / max(c["groups"], 1),
        }
        for st in KERNEL_STAGES:
            m[f"kernel.{st}_ms"] = (by_name.get(f"kernel.{st}", 0.0) * 1e3
                                    / pages)
        return m


# ---------------------------------------------------------------------------
# /proc: the Spark processes under this one
# ---------------------------------------------------------------------------

def _proc_table() -> Dict[int, tuple]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss MB)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        comm = st[st.index("(") + 1:st.rindex(")")]
        fields = st[st.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), comm, ticks / _CLK_TCK,
                          int(fields[21]) * _PAGE_KB / 1024.0)
    return out


def descendants(root: int) -> Dict[int, tuple]:
    table = _proc_table()
    kids: Dict[int, List[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid]
        todo.extend(kids.get(pid, []))
    return out


def _is_python(comm: str) -> bool:
    return comm.startswith("python")


class ProcSampler:
    """Samples, on a thread, the peak summed RSS of this process's
    descendants: the Python workers, and the rest (the Spark JVM).
    Also reads the Python workers' CPU time."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_py_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            py = jvm = 0.0
            for _ppid, comm, _cpu, rss in descendants(me).values():
                if _is_python(comm):
                    py += rss
                else:
                    jvm += rss
            self.peak_py_mb = max(self.peak_py_mb, py)
            self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def py_cpu() -> Dict[int, float]:
        return {pid: p[2] for pid, p in descendants(os.getpid()).items()
                if _is_python(p[1])}

    @staticmethod
    def py_cpu_delta(before: Dict[int, float], after: Dict[int, float]
                     ) -> float:
        """CPU seconds spent by Python workers between two snapshots. A
        reused worker's time accrues in its own counters, a forked and
        reaped one's in the daemon's children counters."""
        return sum(v - before.get(pid, 0.0) for pid, v in after.items())


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

SPAN_PROP = "perfbench.span"


def read_event_log(log_dir: str) -> List[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_spans(events: List[dict], tracer: Tracer) -> Dict[str, dict]:
    """Add job -> stage -> task spans (epoch seconds) to ``tracer`` and
    return, per benchmark span name tagged on the jobs, the totals the
    per-layer metrics need."""
    job_tag, job_start, job_end, stage_job = {}, {}, {}, {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_tag[jid] = (e.get("Properties") or {}).get(SPAN_PROP)
            job_start[jid] = e["Submission Time"] / 1e3
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif ev == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1e3
    job_span = {jid: tracer.add("spark.job", t, job_end.get(jid, t),
                                key=jid) for jid, t in job_start.items()}
    stage_span, tasks = {}, []
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            jid = stage_job.get(sid)
            if jid is None or "Submission Time" not in info:
                continue
            stage_span[(sid, info["Stage Attempt ID"])] = tracer.add(
                "spark.stage", info["Submission Time"] / 1e3,
                info.get("Completion Time", info["Submission Time"]) / 1e3,
                job_span[jid], jid)
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)
    agg: Dict[str, dict] = {}
    for jid, tag in job_tag.items():
        a = agg.setdefault(tag, _empty_agg())
        a["jobs"] += 1
    for e in tasks:
        sid = e["Stage ID"]
        jid = stage_job.get(sid)
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        parent = stage_span.get((sid, e["Stage Attempt ID"]))
        tracer.add("spark.task", info["Launch Time"] / 1e3,
                   info["Finish Time"] / 1e3, parent, jid)
        a = agg.setdefault(job_tag.get(jid), _empty_agg())
        a["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        a["retries"] += int(info.get("Attempt", 0) > 0
                            or info.get("Failed", False))
        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
        a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                 + sr.get("Local Bytes Read", 0)) / 2**20
        a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)) / 2**20
    return agg


def _empty_agg() -> dict:
    return {"jobs": 0, "task_s": [], "retries": 0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0}


def task_stats(task_s: List[float]) -> Dict[str, float]:
    if not task_s:
        return {"tasks": 0, "p50": 0.0, "max": 0.0, "skew": 0.0}
    p50 = statistics.median(task_s)
    return {"tasks": len(task_s), "p50": p50, "max": max(task_s),
            "skew": max(task_s) / p50 if p50 else 0.0}
