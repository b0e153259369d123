"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pld_extract --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics on a warm ``local[<nproc>]`` session; ``--trace 1`` is the
separate traced run that reports the per-layer metrics and the tracing
overhead. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it are the human-readable report. Exit codes: 0 when every output check
passed, 1 when a check failed, 2 when the package to measure is absent.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "parsee_pdf_reader_spark"
DEFAULT_SEED = 1
#: at least this many timed actions per run, however long they take
MIN_SAMPLES = 5
#: untimed actions after the verified warm-up. On a 4-core box the JVM
#: keeps speeding actions up for about eight more (crawl_ingest from 84
#: to 145 docs/s, dedup_verify from 440 to 950); a count rather than a
#: time, so a slow host does not start timing on a colder JVM
WARMUP_ACTIONS = 8
#: docs replayed in-process for the sources/kernel layer metrics
REPLAY_DOCS = 60
#: docs compared row by row against the in-process extraction map
SAMPLE_DOCS = 8
#: planted near-dup pairs dedup_verify may miss at a seed without a pin:
#: MinHash-LSH candidates miss a one-token edit of a short doc now and
#: then, and in seeds 0-299 never more than one of the 12 pairs
MAX_MISSED_PLANTED = 1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------

def _first_job_map(batches):
    # runs on the Python workers: the package import is part of set-up
    import parsee_pdf_reader_spark.pipeline  # noqa: F401
    import parsee_pdf_reader_spark.kernel.engine  # noqa: F401

    yield from batches


def _drain_map(batches):
    """Identity map that yields nothing: scan + JVM->Python transfer."""
    for _ in batches:
        pass
    return iter(())


class Session:
    """A Spark session started through ``session.get_spark``, timed.

    Executors find the package through ``PYTHONPATH``, which ``main``
    sets from the benchmark's own location, so the benchmark works from
    any cwd. Spark's scratch space (``SPARK_LOCAL_DIRS``, also set in
    ``main``), temp files and event logs stay inside the checkout's
    ``.bench_work``."""

    def __init__(self, work: str, cores: int, event_log: str = None):
        from parsee_pdf_reader_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file in /tmp: the run writes only in the checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_log,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{cores}]",
                               extra_conf=conf)
        t1 = time.perf_counter()
        (self.spark.range(0, cores, 1, cores)
         .mapInArrow(_first_job_map, "id long")
         .write.format("noop").mode("overwrite").save())
        t2 = time.perf_counter()
        self.start_s, self.first_job_s = t1 - t0, t2 - t1

    @property
    def setup_s(self) -> float:
        return self.start_s + self.first_job_s

    def tag(self, name: str) -> None:
        """Label the jobs submitted from here on, for the event log."""
        from perfbench.trace import SPAN_PROP

        self.spark.sparkContext.setLocalProperty(SPAN_PROP, name)

    def stop(self) -> None:
        self.spark.stop()


# ---------------------------------------------------------------------------
# workloads: each has a verified warm-up action and a timed action
# ---------------------------------------------------------------------------

class Workload:
    """One workload on one session. ``verify()`` runs the untimed,
    checked action that also warms the session; ``action()`` is the
    timed unit and returns (docs, seconds)."""

    def __init__(self, name, spark, corpus, work, pins, seed):
        self.name, self.spark, self.corpus = name, spark, corpus
        self.work, self.pins, self.seed = work, pins, seed
        self.errors: list = []
        self.bad_docs = 0
        self.info: dict = {}

    def pinned(self, key, value):
        if self.seed == DEFAULT_SEED:
            self.errors += self.pins.check(self.name, key, value)


class ExtractWorkload(Workload):
    """pld_extract / pdf_extract: ``extract_pages`` into the noop sink."""

    def frame(self, split: str):
        from parsee_pdf_reader_spark.pipeline import extract_pages

        src = self.spark.read.parquet(self.corpus.path)
        if split == "scan":
            return src.select("url", "warc_ts", "lang", "html")
        if split == "transfer":
            return src.select("url", "warc_ts", "lang", "html").mapInArrow(
                _drain_map, "url string")
        return extract_pages(src)

    def run_split(self, split: str) -> float:
        t0 = time.perf_counter()
        self.frame(split).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def action(self):
        return self.corpus.n_docs, self.run_split("extract")

    def verify(self):
        from perfbench import checks, inputs

        out = os.path.join(self.work, "verify")
        self.frame("extract").write.mode("overwrite").parquet(out)
        rows = checks.read_rows(out)
        self.check_rows(rows, inputs.read_blobs(self.corpus, 10**9))
        shutil.rmtree(out, ignore_errors=True)

    def check_rows(self, rows, blobs):
        from perfbench import checks

        urls = [u for u, _ in blobs]
        self.bad_docs = checks.bad_docs(rows, urls, self.corpus.planted)
        bad = checks.sample_mismatches(rows, blobs[:SAMPLE_DOCS])
        if bad:
            self.errors.append(f"{self.name}: Spark rows differ from the "
                               f"in-process map for {bad}")
        if self.bad_docs:
            self.errors.append(f"{self.name}: {self.bad_docs} docs without "
                               "a correct output row")
        self.pinned("output_sha256", checks.rows_digest(rows))


class CrawlWorkload(ExtractWorkload):
    """crawl_ingest: ``CheckpointedExtraction.run`` into fresh parquet
    output with its ``_progress`` ledger, one partition per warc day."""

    LEDGER_COLS = ("part", "rows_in", "rows_out", "errors", "digest")

    def __init__(self, *a):
        super().__init__(*a)
        self.n_runs = 0
        self.ledger = None
        self.last_ledger = []

    def extraction(self, out: str):
        from parsee_pdf_reader_spark.checkpoint import CheckpointedExtraction

        shutil.rmtree(out, ignore_errors=True)
        return CheckpointedExtraction(self.spark, self.corpus.path, out,
                                      run_id="bench")

    def read_ledger(self, out: str):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(out, "_progress")).to_pylist()
        return sorted(t, key=lambda r: r["part"])

    def action(self):
        out = os.path.join(self.work, "crawl", f"run{self.n_runs % 2}")
        self.n_runs += 1
        ce = self.extraction(out)
        t0 = time.perf_counter()
        ce.run()
        dt = time.perf_counter() - t0
        self.last_ledger = self.read_ledger(out)
        got = [tuple(r[c] for c in self.LEDGER_COLS)
               for r in self.last_ledger]
        if got != self.ledger:
            self.errors.append(f"crawl_ingest: run {self.n_runs} ledger "
                               f"{got} differs from the verified "
                               f"{self.ledger}")
        return self.corpus.n_docs, dt

    def verify(self):
        from perfbench import checks, inputs

        out = os.path.join(self.work, "crawl", "verify")
        self.extraction(out).run()
        rows = checks.read_rows(out)
        ledger = self.read_ledger(out)
        self.ledger = [tuple(r[c] for c in self.LEDGER_COLS) for r in ledger]
        self.info["out_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(out) if "_progress" not in d
            for f in fs if f.endswith(".parquet"))
        self.check_rows(rows, inputs.read_blobs(self.corpus, 10**9))
        errs = {r["url"] for r in rows if r["error"] is not None}
        if errs != set(self.corpus.planted):
            self.errors.append(
                f"crawl_ingest: error rows {len(errs)} != planted "
                f"{len(self.corpus.planted)}")
        if sum(r["rows_out"] for r in ledger) != len(rows):
            self.errors.append("crawl_ingest: ledger rows_out "
                               f"{sum(r['rows_out'] for r in ledger)} != "
                               f"{len(rows)} rows written")
        if sum(r["rows_in"] for r in ledger) != self.corpus.n_docs:
            self.errors.append("crawl_ingest: ledger rows_in != docs")


class DedupWorkload(Workload):
    """dedup_verify: ``q_dedup_verify_pipeline`` into the noop sink."""

    def build(self):
        from parsee_pdf_reader_spark.operators.dedup import (
            q_dedup_verify_pipeline,
        )

        return q_dedup_verify_pipeline(self.spark, self.corpus.path)

    def action(self):
        t0 = time.perf_counter()
        # the builder call is timed too: it runs an eager checkpoint job
        self.build().write.format("noop").mode("overwrite").save()
        return self.corpus.n_docs, time.perf_counter() - t0

    def verify(self):
        """Every emitted pair must carry its exact Jaccard, and at most
        ``MAX_MISSED_PLANTED`` planted pairs may be missing, at every
        seed. For the default seed, recall 1.0 and the pairs are pinned
        exactly. Candidate generation is MinHash-LSH (3 bands of 4 rows),
        which can miss a one-token edit of a short document."""
        import pyarrow.parquet as pq

        from perfbench import checks

        pairs = [(r.doc_a, r.doc_b, r.jaccard)
                 for r in self.build().collect()]
        docs = pq.read_table(os.path.join(self.corpus.path,
                                          "documents.parquet"))
        texts = dict(zip(docs.column("doc_id").to_pylist(),
                         docs.column("text").to_pylist()))
        bad = checks.jaccard_mismatches(pairs, texts)
        if bad:
            self.errors.append(f"dedup_verify: pairs without their exact "
                               f"Jaccard: {bad[:5]}")
            self.bad_docs = len({d for a, b, _ in bad for d in (a, b)})
        recall = checks.planted_recall(pairs, self.corpus.planted)
        self.info.update(pairs=len(pairs), recall=recall)
        print(f"dedup_verify: {len(pairs)} pairs, planted recall "
              f"{recall:.4f} of {len(self.corpus.planted)}")
        self.errors += [f"dedup_verify: {e}" for e in checks.recall_shortfall(
            pairs, self.corpus.planted, MAX_MISSED_PLANTED)]
        self.pinned("planted_recall", recall)
        self.pinned("pairs_sha256", checks.pairs_digest(pairs))
        self.pinned("pairs", len(pairs))


WORKLOAD_CLASSES = {"pld_extract": ExtractWorkload,
                    "pdf_extract": ExtractWorkload,
                    "crawl_ingest": CrawlWorkload,
                    "dedup_verify": DedupWorkload}


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------

def warm_up(action) -> None:
    for _ in range(WARMUP_ACTIONS):
        action()


def timed_loop(action, seconds: float):
    """Repeat ``action`` until ``seconds`` have passed and at least
    ``MIN_SAMPLES`` ran; returns docs/s per action and the share of CPU
    time the hypervisor stole during each."""
    rates, steals, t_end = [], [], time.perf_counter() + seconds
    while len(rates) < MIN_SAMPLES or time.perf_counter() < t_end:
        os.sync()  # the last action's writes must not be flushed in this one
        ticks0 = cpu_ticks()
        docs, dt = action()
        rates.append(docs / dt)
        steals.append(steal_share(ticks0))
    return rates, steals


def summary(values):
    values = sorted(values)
    if len(values) >= 2:
        q1, q2, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q2 = q3 = values[0]
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values)}


def cpu_ticks():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def env_line(ticks0) -> str:
    """nproc, load average, and the share of CPU time the hypervisor
    stole from this machine since ``ticks0`` (``cpu_ticks()``): on a
    shared host that share is one cause of run-to-run spread."""
    la = os.getloadavg()
    return (f"env: nproc={nproc()} loadavg={la[0]:.2f}/{la[1]:.2f}/"
            f"{la[2]:.2f} steal={steal_share(ticks0):.3f} "
            f"python={sys.version.split()[0]}")


def steal_share(ticks0) -> float:
    """Stolen share of all CPU time since ``ticks0`` (``cpu_ticks()``)."""
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    return d[7] / max(sum(d[:8]), 1) if len(d) > 7 else 0.0


def prepare(args, work, cache, event_log=None):
    """Session + corpus + verified warm-up: shared by both modes."""
    from perfbench import checks, inputs

    pins = checks.Pins(os.path.join(HERE, "pins.json"))
    sess = Session(work, nproc(), event_log)
    # after set-up: dedup_verify plants its near-dups with Spark jobs
    corpus = inputs.build(args.workload, args.seed, cache, sess.spark)
    wl = WORKLOAD_CLASSES[args.workload](args.workload, sess.spark, corpus,
                                         work, pins, args.seed)
    wl.pinned("input_sha256", corpus.digest)
    t0 = time.perf_counter()
    wl.verify()
    wl.info["verify_s"] = time.perf_counter() - t0
    return sess, corpus, wl


def run_untraced(args, work, cache):
    from perfbench.trace import ProcSampler

    sess, corpus, wl = prepare(args, work, cache)
    print(f"{args.workload}: {corpus.n_docs} docs, generation "
          f"{corpus.gen_s:.2f} s{' (cached)' if corpus.cached else ''}")
    warm_up(wl.action)
    with ProcSampler() as ps:
        rates, steals = timed_loop(wl.action, args.seconds)
    sess.stop()
    dps = summary(rates)
    # counted on the verified action, the one whose outputs are read back
    attempted, failed = corpus.n_docs, wl.bad_docs
    metrics = {
        "docs_per_s": (dps["median"], "docs/s"),
        "setup_s": (sess.setup_s, "s"),
        "peak_rss_mb": (ps.peak_py_mb, "MB"),
    }
    print(f"docs_per_s: median {dps['median']:.2f} q1 {dps['q1']:.2f} "
          f"q3 {dps['q3']:.2f} n {dps['n']} (samples "
          f"{', '.join(f'{r:.1f}' for r in rates)}; steal "
          f"{', '.join(f'{x:.3f}' for x in steals)}; verified warm-up "
          f"{wl.info['verify_s']:.1f} s)")
    print(f"setup_s: {sess.setup_s:.3f} (start {sess.start_s:.3f} + first "
          f"job {sess.first_job_s:.3f})")
    print(f"peak_rss_mb: {ps.peak_py_mb:.1f} (JVM {ps.peak_jvm_mb:.1f})")
    print(f"error_rate: {failed / attempted:.6f} ({failed}/{attempted})")
    return wl, attempted, failed, metrics


# ---------------------------------------------------------------------------
# traced run
# ---------------------------------------------------------------------------

#: per-layer metric -> (unit, better, the end-to-end metric it should move,
#: on which workloads). Metrics of a layer a workload does not run read 0.
LAYER_METRICS = {
    "session.start_s": ("s", "lower", "setup_s, all"),
    "session.first_job_s": ("s", "lower", "setup_s, all"),
    "sources.decode_ms_per_doc": ("ms", "lower",
                                  "docs_per_s, pld_extract crawl_ingest"),
    "sources.pdf_parse_ms_per_doc": ("ms", "lower", "docs_per_s, pdf_extract"),
    "sources.group_ms_per_doc": ("ms", "lower", "docs_per_s, pdf_extract"),
    "sources.pages_per_doc": ("count", "lower", "exact count"),
    "sources.chars_per_page": ("count", "lower", "exact count"),
    "kernel.page_ms": ("ms", "lower", "docs_per_s, pld > pdf > crawl"),
    **{f"kernel.{st}_ms": ("ms", "lower", "docs_per_s, pld > pdf > crawl")
       for st in ("tokenize", "find_rows", "build_cells", "find_numeric_cols",
                  "find_runs", "group_areas", "detect_line_items",
                  "extract_tables", "make_paragraphs")},
    "kernel.tokens_per_page": ("count", "lower", "exact count"),
    "kernel.rows_per_page": ("count", "lower", "exact count"),
    "kernel.grow_cell_calls_per_page": ("count", "lower", "exact count"),
    "kernel.groups_per_page": ("count", "lower", "exact count"),
    "kernel.tables_per_page": ("count", "higher", "exact count"),
    "kernel.table_yield": ("ratio", "higher", "tables / groups"),
    "pipeline.scan_s": ("s", "lower", "docs_per_s, extraction workloads"),
    "pipeline.transfer_s": ("s", "lower", "docs_per_s, extraction workloads"),
    "pipeline.extract_s": ("s", "lower", "docs_per_s, extraction workloads"),
    "pipeline.py_cpu_s": ("s", "lower", "docs_per_s, extraction workloads"),
    "pipeline.core_busy": ("ratio", "higher", "docs_per_s, crawl most"),
    "pipeline.kernel_cpu_share": ("ratio", "higher",
                                  "docs_per_s, extraction workloads"),
    "pipeline.tasks": ("count", "lower", "docs_per_s, crawl most"),
    "pipeline.task_p50_s": ("s", "lower", "docs_per_s, crawl most"),
    "pipeline.task_max_s": ("s", "lower", "docs_per_s, crawl most"),
    "pipeline.task_skew": ("ratio", "lower", "docs_per_s, crawl most"),
    "pipeline.task_retries": ("count", "lower", "docs_per_s, all"),
    "pipeline.jvm_gc_s": ("s", "lower", "docs_per_s, all"),
    "pipeline.scaling_eff": ("ratio", "higher",
                             "docs_per_s, extraction workloads"),
    "pipeline.jvm_peak_rss_mb": ("MB", "lower", "JVM memory, all"),
    "checkpoint.plan_s": ("s", "lower", "docs_per_s, crawl_ingest"),
    "checkpoint.partitions": ("count", "lower", "docs_per_s, crawl_ingest"),
    "checkpoint.jobs_per_partition": ("count", "lower",
                                      "docs_per_s, crawl_ingest"),
    "checkpoint.partition_wall_p50_s": ("s", "lower",
                                        "docs_per_s, crawl_ingest"),
    "checkpoint.partition_wall_max_s": ("s", "lower",
                                        "docs_per_s, crawl_ingest"),
    "checkpoint.out_bytes_per_doc": ("B", "lower", "docs_per_s, crawl_ingest"),
    "operators.dedup_build_s": ("s", "lower", "docs_per_s, dedup_verify"),
    "operators.dedup_exec_s": ("s", "lower", "docs_per_s, dedup_verify"),
    "operators.dedup_jobs": ("count", "lower", "docs_per_s, dedup_verify"),
    "operators.dedup_shuffle_write_mb": ("MB", "lower",
                                         "docs_per_s, dedup_verify"),
    "operators.dedup_shuffle_read_mb": ("MB", "lower",
                                        "docs_per_s, dedup_verify"),
    "operators.dedup_spill_mb": ("MB", "lower", "docs_per_s, dedup_verify"),
    "operators.dedup_pairs": ("count", "lower", "exact count"),
    "operators.dedup_planted_recall": ("ratio", "higher",
                                        "1.0 at seed 1, >= 11/12 at any"),
    "trace.traced_docs_per_s": ("docs/s", "higher", "tracing overhead"),
    "trace.untraced_docs_per_s": ("docs/s", "higher", "tracing overhead"),
    "trace.overhead": ("ratio", "lower", "1 - traced / untraced docs_per_s"),
}

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}

#: the event-log job tags whose tasks the pipeline.* task metrics cover
MAIN_TAGS = {"pld_extract": ("extract",), "pdf_extract": ("extract",),
             "crawl_ingest": ("extract",),
             "dedup_verify": ("dedup.build", "dedup.exec")}
TRACED_REPS = 2


def _traced_session(args, work, cache, tracer, logs):
    """Session A: local[n] with the event log on. Returns the corpus, the
    workload, the raw measurements and the job aggregates of the event
    log."""
    from perfbench.trace import ProcSampler, read_event_log, spark_spans

    t_a = time.perf_counter()
    sess, corpus, wl = prepare(args, work, cache, os.path.join(logs, "a"))
    tracer.add("session.start", t_a, t_a + sess.start_s)
    tracer.add("session.first_job", t_a + sess.start_s, t_a + sess.setup_s)
    raw = {"start_s": sess.start_s, "first_job_s": sess.first_job_s,
           "splits": {}, "py_cpu": [], "rates": []}
    splits = raw["splits"]
    with ProcSampler() as ps:
        if args.workload != "dedup_verify":
            ex = ExtractWorkload(args.workload, sess.spark, corpus, work,
                                 None, args.seed)
            for rep in range(3):
                for split in ("scan", "transfer", "extract"):
                    sess.tag(split)
                    before = ProcSampler.py_cpu()
                    with tracer.span(f"pipeline.{split}", key=rep):
                        splits.setdefault(split, []).append(
                            ex.run_split(split))
                    if split == "extract":
                        raw["py_cpu"].append(ProcSampler.py_cpu_delta(
                            before, ProcSampler.py_cpu()))
        if args.workload == "crawl_ingest":
            ce = wl.extraction(os.path.join(work, "crawl", "plan"))
            sess.tag("checkpoint.plan")
            with tracer.span("checkpoint.plan"):
                t0 = time.perf_counter()
                raw["partitions"] = len(ce.pending_partitions())
                raw["plan_s"] = time.perf_counter() - t0
        sess.tag("warm_up")  # as in the untimed part of a timed run
        warm_up(wl.action)
        for rep in range(TRACED_REPS):
            sess.tag("workload")
            with tracer.span(f"workload.{args.workload}", key=rep):
                if args.workload == "dedup_verify":
                    sess.tag("dedup.build")
                    with tracer.span("operators.dedup_build"):
                        t0 = time.perf_counter()
                        df = wl.build()
                        t1 = time.perf_counter()
                    sess.tag("dedup.exec")
                    with tracer.span("operators.dedup_exec"):
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                    splits.setdefault("build", []).append(t1 - t0)
                    splits.setdefault("exec", []).append(t2 - t1)
                    raw["rates"].append(corpus.n_docs / (t2 - t0))
                else:
                    docs, dt = wl.action()
                    raw["rates"].append(docs / dt)
    raw["jvm_peak_mb"] = ps.peak_jvm_mb
    sess.stop()
    agg = spark_spans(read_event_log(os.path.join(logs, "a")), tracer)
    return corpus, wl, raw, agg


def run_traced(args, work, cache):
    from perfbench import inputs
    from perfbench.trace import ProcSampler, Replay, Tracer, task_stats

    tracer = Tracer()
    n = nproc()
    logs = os.path.join(work, "eventlog")
    shutil.rmtree(logs, ignore_errors=True)
    corpus, wl, raw, agg = _traced_session(args, work, cache, tracer, logs)
    med = {k: statistics.median(v) for k, v in raw["splits"].items()}
    m = {name: 0.0 for name in LAYER_METRICS}
    m["session.start_s"] = raw["start_s"]
    m["session.first_job_s"] = raw["first_job_s"]

    if args.workload != "dedup_verify":
        # session C: the single-core baseline of the same extraction
        sess1 = Session(work, 1, os.path.join(logs, "c"))
        ex1 = ExtractWorkload(args.workload, sess1.spark, corpus, work,
                              None, args.seed)
        ex1.run_split("extract")  # warm
        with tracer.span("pipeline.extract_local1"):
            one = ex1.run_split("extract")
        sess1.stop()
        m["pipeline.scaling_eff"] = one / (n * med["extract"])

    # session B: untraced local[n], for the tracing overhead
    sessb = Session(work, n)
    wlb = WORKLOAD_CLASSES[args.workload](args.workload, sessb.spark, corpus,
                                          work, wl.pins, args.seed)
    if args.workload == "crawl_ingest":
        wlb.ledger = wl.ledger
    wlb.action()  # stands in for the verified warm-up of a timed run
    warm_up(wlb.action)
    with ProcSampler():  # as in the timed runs
        untraced = [d / t for d, t in
                    (wlb.action() for _ in range(TRACED_REPS))]
    sessb.stop()
    wl.errors += wlb.errors
    traced = statistics.median(raw["rates"])
    m["trace.traced_docs_per_s"] = traced
    m["trace.untraced_docs_per_s"] = statistics.median(untraced)
    m["trace.overhead"] = 1.0 - traced / m["trace.untraced_docs_per_s"]

    # sources + kernel: single-thread in-process replay
    replay = Replay(Tracer())
    replay_s = 0.0
    if args.workload != "dedup_verify":
        blobs = inputs.read_blobs(corpus, REPLAY_DOCS)
        Replay(Tracer()).run(blobs[:5])  # first-call imports, untimed
        # a pass without the wrappers gives the replay time untraced
        replay_s = Replay(Tracer()).run(blobs)
        with replay:
            replay.run(blobs)
        m.update(replay.metrics())
    tracer.merge(replay.tracer)

    # pipeline: noop-sink splits, /proc and the event log
    tags = MAIN_TAGS[args.workload]
    per_action = len(raw["splits"].get("extract", [])) or TRACED_REPS
    ts = task_stats([t for tag in tags for t in agg.get(tag, {}).get(
        "task_s", [])])

    def total(key):
        return sum(agg.get(tag, {}).get(key, 0) for tag in tags)

    cpu = statistics.median(raw["py_cpu"]) if raw["py_cpu"] else 0.0
    m.update({
        "pipeline.scan_s": med.get("scan", 0.0),
        "pipeline.transfer_s": med.get("transfer", 0.0),
        "pipeline.extract_s": med.get("extract", 0.0),
        "pipeline.py_cpu_s": cpu,
        "pipeline.tasks": ts["tasks"] / per_action,
        "pipeline.task_p50_s": ts["p50"],
        "pipeline.task_max_s": ts["max"],
        "pipeline.task_skew": ts["skew"],
        "pipeline.task_retries": total("retries"),
        "pipeline.jvm_gc_s": total("gc_s") / per_action,
        "pipeline.jvm_peak_rss_mb": raw["jvm_peak_mb"],
    })
    if cpu:
        m["pipeline.core_busy"] = cpu / (med["extract"] * n)
        m["pipeline.kernel_cpu_share"] = (
            replay_s / len(blobs) * corpus.n_docs / cpu)

    if args.workload == "crawl_ingest":
        walls = [r["wall_sec"] for r in wl.last_ledger]
        m.update({
            "checkpoint.plan_s": raw["plan_s"],
            "checkpoint.partitions": raw["partitions"],
            "checkpoint.jobs_per_partition":
                agg.get("workload", {}).get("jobs", 0)
                / (TRACED_REPS * raw["partitions"]),
            "checkpoint.partition_wall_p50_s": statistics.median(walls),
            "checkpoint.partition_wall_max_s": max(walls),
            "checkpoint.out_bytes_per_doc":
                wl.info["out_bytes"] / corpus.n_docs,
        })
    if args.workload == "dedup_verify":
        m.update({
            "operators.dedup_build_s": med["build"],
            "operators.dedup_exec_s": med["exec"],
            "operators.dedup_jobs": total("jobs") / TRACED_REPS,
            "operators.dedup_shuffle_write_mb":
                total("shuffle_write_mb") / TRACED_REPS,
            "operators.dedup_shuffle_read_mb":
                total("shuffle_read_mb") / TRACED_REPS,
            "operators.dedup_spill_mb": total("spill_mb") / TRACED_REPS,
            "operators.dedup_pairs": wl.info["pairs"],
            "operators.dedup_planted_recall": wl.info["recall"],
        })

    spans_path = os.path.join(work, "trace",
                              f"{args.workload}-s{args.seed}.jsonl")
    tracer.write(spans_path)
    print(f"{args.workload}: {len(tracer.spans)} spans -> {spans_path}")
    for name, (unit, _better, moves) in LAYER_METRICS.items():
        print(f"{name}: {m[name]:.6g} {unit}  -> {moves}")
    attempted, failed = corpus.n_docs, wl.bad_docs
    metrics = {k: (v, LAYER_METRICS[k][0]) for k, v in m.items()}
    return wl, attempted, failed, metrics


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def stop_jvm() -> None:
    """Close the JVM that PySpark launched and wait until it has exited;
    it takes its Python workers down with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits at the end of its stdin
        proc.wait(timeout=120)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOAD_CLASSES))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work")
    cache = os.path.join(ROOT, ".bench_cache")
    os.makedirs(work, exist_ok=True)
    # executors import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")
        if p)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    ticks0 = cpu_ticks()
    print(env_line(ticks0), flush=True)
    runner = run_traced if args.trace else run_untraced
    try:
        wl, attempted, failed, metrics = runner(args, work, cache)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
    for e in wl.errors:
        print(f"CHECK FAILED: {e}")
    print(env_line(ticks0))
    print(json.dumps({
        "correct": not wl.errors,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if not wl.errors else 1


if __name__ == "__main__":
    sys.exit(main())
