"""Resumable per-partition extraction with lineage + metrics.

BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics ... any failed split resumes idempotently".

Mechanism (catalog-agnostic; works on parquet dirs here, maps 1:1 to
Iceberg ``overwritePartitions`` + a ``_progress`` table in production):

- work is keyed by a partition expression over the input (default
  ``to_date(warc_ts)``), giving deterministic, idempotent splits;
- a ``_progress`` ledger (one parquet dir) records, per (run_id,
  partition): row counts in/out, error count, a value digest of the
  output, and wall time — the lineage + metrics record;
- on (re)start, partitions present in the ledger with status='done' are
  skipped; a partition is written atomically (separate dir per
  partition, overwrite mode) before its ledger row is appended, so a
  crash between the two re-does at most one partition (idempotent).

Scan economics: each partition is ONE pass. The extraction reads that
partition's input once and writes its output once; the ledger figures
are ``observe()`` metrics collected on that same pass, never a second
scan: ``rows_in`` on the scan, and ``rows_out``, ``errors`` and
``digest`` on the rows the sink write consumes. The written files are
not read back; ``tests/test_checkpoint_ledger.py`` pins that the
observed figures equal an aggregate over the persisted files. The
ledger row itself goes to the JVM as an Arrow table, so appending it
starts no Python worker.

For the per-partition input filter to PRUNE files rather than scan the
whole input, ``partition_expr`` should be the table's physical
partition column (``ds`` for a hive-layout dir, hidden partitioning on
Iceberg makes ``days(warc_ts)`` prune natively); an arbitrary
expression over an unpartitioned dir degrades to a full scan per
partition — acceptable for staging dirs, not for a 100 TB input.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from parsee_pdf_reader_spark.pipeline import extract_pages, read_pages

PROGRESS_SCHEMA = ("run_id string, part string, status string, "
                   "rows_in long, rows_out long, errors long, "
                   "digest string, wall_sec double, finished_ts timestamp")


class CheckpointedExtraction:
    def __init__(self, spark: SparkSession, input_path: str,
                 output_path: str, run_id: str = "r1",
                 partition_expr: str = "to_date(warc_ts)"):
        self.spark = spark
        self.input_path = input_path
        self.output_path = output_path
        self.run_id = run_id
        self.partition_expr = partition_expr
        self.progress_path = os.path.join(output_path, "_progress")

    # -- ledger --

    def completed_partitions(self) -> List[str]:
        try:
            df = self.spark.read.parquet(self.progress_path)
        except Exception as e:
            # ONLY a missing ledger means "fresh run". A corrupt or
            # transiently unreadable ledger must propagate: silently
            # reprocessing everything is idempotent but O(full job),
            # and it would mask real ledger corruption.
            from pyspark.errors import AnalysisException

            if isinstance(e, AnalysisException) and (
                    "PATH_NOT_FOUND" in str(e)
                    or "Path does not exist" in str(e)):
                return []
            raise
        return [
            r.part
            for r in df.where((F.col("run_id") == self.run_id)
                              & (F.col("status") == "done"))
            .select("part").distinct().collect()
        ]

    def _append_progress(self, row: dict):
        # an Arrow table goes to the JVM as-is; a list of Python rows
        # would run a Python-worker task for the one ledger row
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import _parse_datatype_string

        schema = to_arrow_schema(_parse_datatype_string(PROGRESS_SCHEMA))
        table = pa.Table.from_pylist([row], schema=schema)
        df = self.spark.createDataFrame(table)
        df.write.mode("append").parquet(self.progress_path)

    # -- work --

    def pending_partitions(self) -> List[str]:
        return self._pending(read_pages(self.spark, self.input_path))

    def _pending(self, pages: DataFrame) -> List[str]:
        parts = self._partition_values(pages)
        done = set(self.completed_partitions())
        return sorted(p for p in parts if p not in done)

    def _partition_values(self, pages: DataFrame) -> List[str]:
        """Distinct partition values of the input.

        Fast path (VERDICT r2 item 8): when ``partition_expr`` is a
        bare column name and the input dir is hive-partitioned on it
        (``col=value`` subdirs), the values come from the FILE INDEX —
        a driver-side directory listing, no executor scan of the data
        at all (the Iceberg equivalent is reading the partitions
        metadata table), normalized through the type ``pages``
        carries for that column. An arbitrary expression falls back to
        a distinct over ``pages``, column-pruned to the expression's
        inputs."""
        import re as _re

        expr = self.partition_expr.strip()
        if (_re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr)
                and expr in pages.columns):
            vals = self._hive_partition_values(expr)
            if vals is not None:
                vals = self._normalize_partition_values(
                    pages.schema[expr].dataType, vals)
            if vals:
                return vals
        return [
            str(r.p)
            for r in pages.select(F.expr(expr).cast("string").alias("p"))
            .distinct().collect()
        ]

    def _hive_partition_values(self, col: str) -> Optional[List[str]]:
        """``col=value`` subdir names under input_path via the Hadoop
        FS API (pure metadata; None when the layout doesn't match)."""
        from urllib.parse import unquote

        try:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            path = jvm.org.apache.hadoop.fs.Path(self.input_path)
            fs = path.getFileSystem(conf)
            if not fs.getFileStatus(path).isDirectory():
                return None
            vals = []
            prefix = col + "="
            for st in fs.listStatus(path):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith(prefix):
                    v = unquote(name[len(prefix):])
                    if v != "__HIVE_DEFAULT_PARTITION__":
                        vals.append(v)
            return vals or None
        except Exception:
            return None

    def _normalize_partition_values(
            self, dtype, vals: List[str]) -> List[str]:
        """Raw ``col=value`` dir strings -> the canonical strings
        ``run()``'s ``cast(expr as string)`` filter will actually see.

        ADVICE r3: Spark type-infers hive partition columns, so a
        non-canonical dir value (``p=007`` -> int 7 -> '7', ``p=1.50``
        -> '1.5') never matches its own raw dir string — the partition
        would write zero rows yet be ledgered 'done'. Round-trip every
        listed value through the column type Spark actually inferred
        for this input (driver-side, a handful of rows — no executor
        scan of the data). Distinct dirs can collapse to one canonical
        value (p=7 and p=007): dedupe, preserving order."""
        import pyarrow as pa

        one_col = self.spark.createDataFrame(pa.table({"v": vals}))
        canon = [
            r.c for r in one_col.select(
                F.col("v").cast(dtype).cast("string").alias("c")).collect()
        ]
        out: List[str] = []
        seen = set()
        for c in canon:
            if c is not None and c not in seen:
                seen.add(c)
                out.append(c)
        return out

    def run(self, max_partitions: Optional[int] = None) -> List[str]:
        """Process pending partitions; returns the list processed."""
        # the input is resolved once: discovery and every partition's
        # extraction read the same DataFrame
        pages = read_pages(self.spark, self.input_path)
        pending = self._pending(pages)
        if max_partitions is not None:
            pending = pending[:max_partitions]
        for part in pending:
            t0 = time.time()
            src = pages.where(
                F.expr(self.partition_expr).cast("string") == part)
            # Every ledger figure is an Observation on the one pass that
            # writes the partition: rows_in on its scan, the output
            # figures on the rows the sink consumes. No count() over the
            # input and no read-back of the output. The names are unique
            # per call, so two runs on one session never share metrics.
            tag = uuid.uuid4().hex
            obs_in = Observation(f"in:{part}:{tag}")
            obs_out = Observation(f"out:{part}:{tag}")
            src = src.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
            out = extract_pages(src).observe(
                obs_out,
                F.count(F.lit(1)).alias("rows_out"),
                F.sum(F.when(F.col("error").isNotNull(), 1)
                      .otherwise(0)).alias("errors"),
                F.expr("bit_xor(xxhash64(url, page_index, extracted_text))")
                .alias("digest"),
            )
            part_dir = os.path.join(self.output_path, f"part={part}")
            out.write.mode("overwrite").parquet(part_dir)
            metrics = obs_out.get
            self._append_progress({
                "run_id": self.run_id,
                "part": part,
                "status": "done",
                "rows_in": int(obs_in.get["rows_in"]),
                "rows_out": int(metrics["rows_out"]),
                "errors": int(metrics["errors"] or 0),
                "digest": str(metrics["digest"]),
                "wall_sec": time.time() - t0,
                "finished_ts": datetime.datetime.now(datetime.timezone.utc),
            })
        return pending
