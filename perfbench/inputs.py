"""Deterministic workload inputs, generated from the seed and cached.

Every input is a pure function of (workload, seed) and of the code that
makes it: the cache key includes a hash of every module of ``sources/``
(``synth`` and the codec and font tables it imports), of
``operators/evaluation.py`` (the near-dup planting) and of this file. A
generator change therefore regenerates the corpus, and the input digest
(``Corpus.digest``) then disagrees with the pin in ``pins.json`` instead
of reading as a speed-up.

The documents table mimics the shape of the sf0.1 ``documents`` test
table (rows of 10-100 words drawn from a 30-word lexicon), but is
built here from the seed, so the benchmark reads nothing outside its
checkout.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from parsee_pdf_reader_spark.sources import synth

WORKLOADS = ("pld_extract", "pdf_extract", "crawl_ingest", "dedup_verify")

#: documents per corpus; fixed per workload so output pins stay valid
SIZES = {"pld_extract": 480, "pdf_extract": 320, "crawl_ingest": 300,
         "dedup_verify": 1500}

#: parquet files per pages corpus, one per core of the 4-core box.
#: Spark packs small files into scan splits of about (corpus bytes + 4 MB
#: open cost per file) / cores, so 4 similar files make 4 splits: one
#: wave of tasks. More files than cores can pack into cores + 1 splits,
#: depending on file sizes, and the last task then runs alone
N_FILES = 4

_LEXICON = ("spark window merge table column vector stream value data small "
            "join filter big group hash customer sort order slow line part "
            "fast row the agg key query a scan batch").split()
_LANGS = ("en", "en", "zh", "es", "fr", "de")

#: crawl_ingest mix: (kind, share). The cheap single-page kinds dominate,
#: so per-row, per-job, write and ledger costs carry a large share. The
#: counts are fixed and dealt evenly over the files, and only the order
#: within a file depends on the seed, so every seed asks each task for
#: the same work.
CRAWL_MIX = (("stress", 0.40), ("chaos", 0.26), ("pld", 0.20),
             ("pdf", 0.06), ("corrupt", 0.05), ("empty", 0.03))
#: warc days, one checkpoint partition each. Each partition adds about
#: four Spark jobs (3.5 s per action on a 4-core box), so one day keeps
#: a run within its time budget
CRAWL_DAYS = (1.0,)
PLANTED_ERROR_KINDS = ("corrupt", "empty")

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


@dataclass
class Corpus:
    workload: str
    seed: int
    path: str            # pages dir, or the dir holding documents.parquet
    n_docs: int
    digest: str          # sha256 over the generated rows
    gen_s: float         # generation time when built (information only)
    cached: bool
    planted: List[list] = field(default_factory=list)  # errors or dup pairs


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng(
        [seed, int.from_bytes(tag.encode()[:8].ljust(8, b"\0"), "little")])


def make_documents(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "docs")
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(_LEXICON), size=int(lens.sum()))
    langs = rng.integers(0, len(_LANGS), size=n)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(_LEXICON[w] for w in words[pos:pos + k]))
        pos += int(k)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _code_files() -> List[str]:
    from parsee_pdf_reader_spark.operators import evaluation

    src = os.path.dirname(synth.__file__)
    return sorted(os.path.join(src, f) for f in os.listdir(src)
                  if f.endswith(".py")) + [evaluation.__file__, __file__]


def _code_key() -> str:
    h = hashlib.sha256()
    for p in _code_files():
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _rows_digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        for v in r:
            b = v if isinstance(v, bytes) else str(v).encode()
            h.update(len(b).to_bytes(8, "little"))
            h.update(b)
    return h.hexdigest()


def _write_pages(path: str, rows: List[dict]) -> None:
    os.makedirs(path)
    per = -(-len(rows) // N_FILES)
    for i in range(N_FILES):
        chunk = rows[i * per:(i + 1) * per]
        if chunk:
            pq.write_table(pa.Table.from_pylist(chunk, PAGES_SCHEMA),
                           os.path.join(path, f"part-{i:03d}.parquet"))


def _page_row(url, ts, blob, text, lang) -> dict:
    return {"url": url, "warc_ts": ts, "html": blob, "text": text,
            "lang": lang}


_TS0 = datetime.datetime(2025, 6, 1, tzinfo=datetime.timezone.utc)


def _gen_extract(workload: str, seed: int, n: int):
    docs = make_documents(seed, n).to_pylist()
    rows = []
    for d in docs:
        key = f"doc{d['doc_id']}"
        ts = _TS0 + datetime.timedelta(seconds=d["doc_id"] % 86400)
        if workload == "pld_extract":
            blob, text = synth.build_document(key, seed, d["text"])
            url = f"https://host{d['doc_id'] % 97}.example/{key}.pdf"
        else:
            blob, text = synth.build_pdf_document(key, seed, d["text"]), \
                d["text"]
            url = f"https://pdf{d['doc_id'] % 97}.example/{key}.pdf"
        rows.append(_page_row(url, ts, blob, text, d["lang"]))
    return rows, []


def _crawl_kinds(rng: np.random.Generator, n: int) -> np.ndarray:
    """Kind index per doc, in file order: round(share * n) docs of each
    kind (any remainder going to the first), dealt round-robin over the
    ``N_FILES`` files and shuffled within each."""
    counts = [round(share * n) for _, share in CRAWL_MIX]
    counts[0] += n - sum(counts)
    ordered = np.repeat(np.arange(len(CRAWL_MIX)), counts)
    return np.concatenate([rng.permutation(ordered[f::N_FILES])
                           for f in range(N_FILES)])


def _gen_crawl(seed: int, n: int):
    rng = _rng(seed, "crawl")
    kinds = _crawl_kinds(rng, n)
    days = rng.choice(len(CRAWL_DAYS), size=n, p=CRAWL_DAYS)
    hosts = rng.zipf(1.5, size=n) % 211
    texts = make_documents(seed, n).column("text").to_pylist()
    rows, planted = [], []
    for i in range(n):
        kind = CRAWL_MIX[kinds[i]][0]
        key = f"c{i}"
        text = texts[i]
        if kind == "stress":
            blob = synth.build_stress_document(key, seed)
        elif kind == "chaos":
            blob = synth.build_chaos_document(key, seed)
        elif kind == "pld":
            blob, text = synth.build_document(key, seed, text)
        elif kind == "pdf":
            blob = synth.build_pdf_document(key, seed, text)
        elif kind == "corrupt":  # a PLD member cut short in transit
            full = synth.build_stress_document(key, seed)
            blob = full[:int(rng.integers(8, len(full) // 2))]
        else:
            blob = b""
        url = f"https://host{hosts[i]}.example/{kind}/{key}"
        if kind in PLANTED_ERROR_KINDS:
            planted.append(url)
        ts = _TS0 + datetime.timedelta(days=int(days[i]), seconds=i)
        rows.append(_page_row(url, ts, blob, text, "en"))
    return rows, planted


def _gen_dedup(spark, seed: int, n: int, root: str):
    """The documents table, written here, plus the near-dups that
    ``operators.evaluation.plant_near_dup_corpus`` plants into it and
    writes to ``root/corpus/documents.parquet``. Returns the sorted
    (doc_id, text) rows and the sorted [doc_a, doc_b] planted pairs."""
    from parsee_pdf_reader_spark.operators.evaluation import (
        plant_near_dup_corpus,
    )

    base = os.path.join(root, "base.parquet")
    pq.write_table(make_documents(seed, n), base)
    truth = plant_near_dup_corpus(spark, spark.read.parquet(base),
                                  os.path.join(root, "corpus"))
    planted = sorted([r.doc_a, r.doc_b] for r in truth.collect())
    table = pq.read_table(os.path.join(root, "corpus", "documents.parquet"),
                          columns=["doc_id", "text"])
    rows = sorted(zip(table.column("doc_id").to_pylist(),
                      table.column("text").to_pylist()))
    return rows, planted


def build(workload: str, seed: int, cache_root: str, spark=None) -> Corpus:
    """Return the workload's corpus, generating it on a cache miss.

    ``dedup_verify`` is generated in every run, in ``spark``: its planting
    jobs start Python workers (``createDataFrame`` of a local list), and
    a run that skipped them would read a lower ``peak_rss_mb``. The pages
    corpora are made in this process and cached."""
    n = SIZES[workload]
    root = os.path.join(cache_root,
                        f"{workload}-s{seed}-n{n}-{_code_key()}")
    path = os.path.join(
        root, "corpus" if workload == "dedup_verify" else "pages")
    meta_path = os.path.join(root, "corpus.json")
    if os.path.exists(meta_path) and workload != "dedup_verify":
        with open(meta_path) as f:
            meta = json.load(f)
        return Corpus(workload, seed, path, meta["n_docs"], meta["digest"],
                      meta["gen_s"], True, meta["planted"])
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    if workload == "dedup_verify":
        os.makedirs(root)
        rows, planted = _gen_dedup(spark, seed, n, root)
        n_docs = len(rows)
    else:
        if workload == "crawl_ingest":
            rows_d, planted = _gen_crawl(seed, n)
        else:
            rows_d, planted = _gen_extract(workload, seed, n)
        _write_pages(path, rows_d)
        rows = [(r["url"], r["warc_ts"].isoformat(), r["html"])
                for r in rows_d]
        n_docs = len(rows)
    gen_s = time.perf_counter() - t0
    meta = {"n_docs": n_docs, "digest": _rows_digest(rows),
            "gen_s": gen_s, "planted": planted}
    # bench.py measured a 2.8x read slowdown while generated files were
    # still being written back; flush them before anything is timed
    os.sync()
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return Corpus(workload, seed, path, n_docs, meta["digest"], gen_s,
                  False, planted)


def read_blobs(corpus: Corpus, limit: int) -> List[tuple]:
    """First ``limit`` (url, blob) pairs of a pages corpus, in file order."""
    out = []
    for name in sorted(os.listdir(corpus.path)):
        t = pq.read_table(os.path.join(corpus.path, name),
                          columns=["url", "html"])
        out.extend(zip(t.column("url").to_pylist(),
                       t.column("html").to_pylist()))
        if len(out) >= limit:
            break
    return out[:limit]
