"""Output checks. They are regression pins: the Parsee reference is not
available to compare against, so the digests in ``pins.json`` record
what the current program produces for the default seed, and any later
change in output fails the benchmark."""

from __future__ import annotations

import hashlib
import json
import os
from typing import Dict, List

import pyarrow.parquet as pq

#: the columns a digest covers, in hashing order
DIGEST_COLS = ("url", "page_index", "extracted_text", "paragraphs",
               "tables", "error")


def read_rows(path: str) -> List[dict]:
    """All rows of a parquet dir (recursively; hidden and ``_`` paths are
    skipped as Spark does), restricted to ``DIGEST_COLS``."""
    rows = []
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if d[0] not in "._")
        for name in sorted(files):
            if name.endswith(".parquet") and name[0] not in "._":
                t = pq.read_table(os.path.join(dirpath, name),
                                  columns=list(DIGEST_COLS))
                rows.extend(t.to_pylist())
    return rows


def canonical(row: dict) -> str:
    return json.dumps([row[c] for c in DIGEST_COLS], sort_keys=True,
                      separators=(",", ":"), ensure_ascii=False)


def rows_digest(rows: List[dict]) -> str:
    h = hashlib.sha256()
    for line in sorted(canonical(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def sample_mismatches(rows: List[dict], blobs: List[tuple]) -> List[str]:
    """urls among ``blobs`` whose Spark output rows differ from the
    in-process result of the same extraction map on the same bytes."""
    from parsee_pdf_reader_spark.pipeline import _doc_to_rows

    by_url: Dict[str, List[str]] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(canonical(r))
    bad = []
    for url, blob in blobs:
        want = sorted(canonical(r) for r in
                      _doc_to_rows(url, None, None, blob, 2, 1))
        if sorted(by_url.get(url, [])) != want:
            bad.append(url)
    return bad


def bad_docs(rows: List[dict], urls: List[str], planted: List[str]) -> int:
    """Attempted docs with no correct output row: an unplanted error row,
    a planted error that came out clean, or a url missing altogether."""
    planted = set(planted)
    ok_rows, err_rows = set(), set()
    for r in rows:
        (err_rows if r["error"] is not None else ok_rows).add(r["url"])
    bad = 0
    for u in urls:
        if u in planted:
            bad += u not in err_rows or u in ok_rows
        else:
            bad += u not in ok_rows or u in err_rows
    return bad


def pairs_digest(pairs: List[tuple]) -> str:
    h = hashlib.sha256()
    for a, b, j in sorted(pairs):
        h.update(f"{a},{b},{j!r}\n".encode())
    return h.hexdigest()


def _shingles(text: str) -> set:
    """Distinct word 3-shingles, as the dedup pipeline builds them."""
    toks = text.split()
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard_mismatches(pairs: List[tuple], texts: Dict[int, str]
                       ) -> List[tuple]:
    """Emitted (doc_a, doc_b, jaccard) rows that break the verify stage's
    contract: doc_a < doc_b, and jaccard is the exact Jaccard of the two
    shingle sets, rounded to 6 places, and at least 0.01."""
    bad = []
    for a, b, j in pairs:
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        exact = len(sa & sb) / len(sa | sb)
        if not (a < b and j >= 0.01 and abs(j - exact) <= 5e-7):
            bad.append((a, b, j))
    return bad


def planted_recall(pairs: List[tuple], planted: List[list]) -> float:
    found = {(a, b) for a, b, _ in pairs}
    return sum((a, b) in found for a, b in planted) / max(len(planted), 1)


def recall_shortfall(pairs: List[tuple], planted: List[list],
                     max_missed: int) -> List[str]:
    """Why the emitted pairs fall short of the planted truth: more than
    ``max_missed`` planted pairs missing, or fewer pairs emitted than
    the planted pairs that must be found. Empty when they do not."""
    found = {(a, b) for a, b, _ in pairs}
    missed = [p for p in planted if tuple(p) not in found]
    floor = len(planted) - max_missed
    errs = []
    if len(missed) > max_missed:
        errs.append(f"{len(missed)} of {len(planted)} planted pairs "
                    f"missing: {missed[:5]}")
    if len(pairs) < floor:
        errs.append(f"{len(pairs)} pairs emitted, fewer than {floor}")
    return errs


class Pins:
    """Digests recorded for the default seed (``pins.json``)."""

    def __init__(self, path: str):
        self.path = path
        with open(path) as f:
            self.data = json.load(f)

    def check(self, workload: str, key: str, value) -> List[str]:
        want = self.data.get(workload, {}).get(key)
        if want is None:
            return [f"{workload}: no pin for {key} (got {value})"]
        if want != value:
            return [f"{workload}: {key} is {value}, pinned {want}"]
        return []
