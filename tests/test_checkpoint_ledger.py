"""The checkpoint ledger is observed on the write, not read back.

``CheckpointedExtraction.run`` collects each partition's ledger figures
as ``observe()`` metrics on the one pass that writes the partition.
These tests tie those figures to the files that were persisted, pin the
number of Spark jobs a run submits, and run two checkpointed jobs on one
session at once.
"""

from __future__ import annotations

import datetime
import os
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from parsee_pdf_reader_spark.checkpoint import CheckpointedExtraction
from parsee_pdf_reader_spark.sources.synth import build_document

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])

#: Spark jobs of one ``run()`` over a one-day input with no ledger yet
EXPECTED_JOBS = 5

TEXT = "revenue 120 cost 80 margin 40 total 240 " * 3


def _write_pages(path, days, truncated=None, empty=None):
    """A pages input written in the driver: ``days`` maps a warc day
    (``YYYY-MM-DD``) to its doc count. Timestamps sit at noon UTC, so
    ``to_date(warc_ts)`` gives the same day in any session time zone
    within ±11 h. ``truncated``/``empty`` name docs whose blob is cut in
    half or empty."""
    rows = []
    for day, n in days.items():
        ts = datetime.datetime.fromisoformat(f"{day}T12:00:00+00:00")
        for i in range(n):
            key = f"{day}-doc{i}"
            blob, text = build_document(key, 42, TEXT)
            if key == truncated:
                blob = blob[:len(blob) // 2]
            if key == empty:
                blob = b""
            rows.append({"url": f"https://h{i % 3}.example/{key}.pdf",
                         "warc_ts": ts, "html": blob, "text": text,
                         "lang": "en"})
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, PAGES_SCHEMA),
                   os.path.join(path, "part-000.parquet"))


def _read_back(spark, part_dir):
    """The aggregate the ledger used to compute by re-reading each
    written partition."""
    r = spark.read.parquet(part_dir).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1)
              .otherwise(0)).alias("errs"),
        F.expr("bit_xor(xxhash64(url, page_index, extracted_text))")
        .alias("digest"),
    ).collect()[0]
    return r["n"], int(r["errs"] or 0), str(r["digest"])


def _ledger(spark, outp):
    return {r.part: r for r in spark.read.parquet(
        os.path.join(outp, "_progress"))
        .withColumn("finished_epoch", F.col("finished_ts").cast("double"))
        .collect()}


def test_ledger_matches_persisted_output(spark, tmp_path, monkeypatch):
    """Per partition, the observed ``rows_out``, ``errors`` and
    ``digest`` equal the aggregate over the persisted files, and
    ``finished_ts`` is the instant the partition finished. The driver
    process and the Spark session both run in non-UTC zones too: a naive
    datetime would then be stored hours off."""
    inp = os.path.join(str(tmp_path), "pages")
    _write_pages(inp, {"2025-06-01": 5, "2025-06-02": 4},
                 truncated="2025-06-01-doc1", empty="2025-06-02-doc3")
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for proc_tz, session_tz in (("UTC", "UTC"),
                                    ("Asia/Kolkata", "America/Los_Angeles")):
            monkeypatch.setenv("TZ", proc_tz)
            time.tzset()
            spark.conf.set("spark.sql.session.timeZone", session_tz)
            outp = os.path.join(str(tmp_path), f"out-{proc_tz[:4]}")
            done = CheckpointedExtraction(spark, inp, outp).run()
            now = time.time()
            assert done == ["2025-06-01", "2025-06-02"]
            ledger = _ledger(spark, outp)
            assert sorted(ledger) == done
            for part, row in ledger.items():
                n, errs, digest = _read_back(
                    spark, os.path.join(outp, f"part={part}"))
                assert (row.rows_out, row.errors, row.digest) == (
                    n, errs, digest), (session_tz, part)
                assert abs(row.finished_epoch - now) < 60, (
                    proc_tz, session_tz, part)
            assert ledger["2025-06-01"].rows_in == 5
            assert ledger["2025-06-02"].rows_in == 4
            # one error row each: the truncated and the empty blob
            assert ledger["2025-06-01"].errors == 1
            assert ledger["2025-06-02"].errors == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
        monkeypatch.undo()
        time.tzset()


def test_run_submits_a_fixed_number_of_jobs(spark, tmp_path):
    """One day, one partition, no ledger yet: ``run()`` submits five
    jobs. One infers the input's schema, two find its partitions (the
    shuffle-map and result jobs of a ``distinct`` over
    ``to_date(warc_ts)``), one writes the partition and one appends its
    ledger row. A read-back of the written files, a second resolution
    of the input or a ledger row built from Python objects adds jobs
    and fails this pin."""
    inp = os.path.join(str(tmp_path), "pages")
    _write_pages(inp, {"2025-06-01": 3})
    outp = os.path.join(str(tmp_path), "out")
    sc = spark.sparkContext
    group = f"ckpt-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "checkpoint job count")
    try:
        assert CheckpointedExtraction(spark, inp, outp).run() == [
            "2025-06-01"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == EXPECTED_JOBS, sorted(jobs)


def test_concurrent_runs_keep_their_own_ledger(spark, tmp_path):
    """Two checkpointed runs on one session at once. Both inputs hold
    the same warc day, so the per-partition Observation names would
    collide without their per-call suffix."""
    counts = {"a": 3, "b": 5}
    outs, errors = {}, []
    for name, n in counts.items():
        _write_pages(os.path.join(str(tmp_path), f"in-{name}"),
                     {"2025-06-01": n})
        outs[name] = os.path.join(str(tmp_path), f"out-{name}")

    def go(name):
        try:
            CheckpointedExtraction(
                spark, os.path.join(str(tmp_path), f"in-{name}"),
                outs[name], run_id=name).run()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=go, args=(n,)) for n in counts]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for name, n in counts.items():
        row = _ledger(spark, outs[name])["2025-06-01"]
        written, _, _ = _read_back(
            spark, os.path.join(outs[name], "part=2025-06-01"))
        assert (row.run_id, row.rows_in, row.rows_out) == (
            name, n, written)
        assert written >= n
