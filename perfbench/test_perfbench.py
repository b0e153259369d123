"""The benchmark's own tests, at a tiny scale.

    python -m pytest perfbench -q

The Spark tests run the benchmark in-process on corpora of a few dozen
documents (a non-default seed, so the default-seed pins do not apply).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, inputs, run, trace  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TINY = {"pld_extract": 24, "pdf_extract": 16, "crawl_ingest": 48,
        "dedup_verify": 120}


def _in_process_rows(blobs):
    from parsee_pdf_reader_spark.pipeline import _doc_to_rows

    return [r for u, b in blobs for r in _doc_to_rows(u, None, None, b, 2, 1)]


@pytest.fixture()
def tiny(monkeypatch, tmp_path):
    monkeypatch.setattr(inputs, "SIZES", TINY)
    return str(tmp_path)


def test_benchmark_json_matches_the_metric_tables():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]} \
        == {k: v[:2] for k, v in run.LAYER_METRICS.items()}
    assert {w["name"] for w in BENCH["workloads"]} <= set(inputs.WORKLOADS)


def test_perturbed_output_row_fails_the_checks(tiny):
    corpus = inputs.build("crawl_ingest", 7, tiny)
    blobs = inputs.read_blobs(corpus, 10**9)
    rows = _in_process_rows(blobs)
    urls = [u for u, _ in blobs]
    assert checks.bad_docs(rows, urls, corpus.planted) == 0
    assert checks.sample_mismatches(rows, blobs) == []
    pins = checks.Pins(os.path.join(HERE, "pins.json"))
    pins.data = {"crawl_ingest": {"output_sha256": checks.rows_digest(rows)}}
    assert pins.check("crawl_ingest", "output_sha256",
                      checks.rows_digest(rows)) == []

    i = next(k for k, r in enumerate(rows) if r["extracted_text"])
    bad = [dict(r) for r in rows]
    bad[i]["extracted_text"] = bad[i]["extracted_text"][:-1] + "#"
    assert pins.check("crawl_ingest", "output_sha256",
                      checks.rows_digest(bad)) != []
    assert checks.sample_mismatches(bad, blobs) == [rows[i]["url"]]
    dropped = [r for r in rows if r["url"] != rows[i]["url"]]
    assert checks.bad_docs(dropped, urls, corpus.planted) == 1


def test_wrong_jaccard_fails_the_pair_check():
    texts = {1: "a b c d e", 2: "a b c d f", 3: "x y"}
    exact = round(2 / 4, 6)  # {abc, bcd, cde} vs {abc, bcd, cdf}
    assert checks.jaccard_mismatches([(1, 2, exact)], texts) == []
    assert checks.jaccard_mismatches([(1, 2, 0.4)], texts) == [(1, 2, 0.4)]
    assert checks.jaccard_mismatches([(2, 1, exact)], texts) != []
    assert checks.jaccard_mismatches([(1, 3, 0.0)], texts) != []


def test_child_self_times_never_exceed_their_parent(tiny):
    corpus = inputs.build("pdf_extract", 7, tiny)
    replay = trace.Replay(trace.Tracer())
    with replay:
        replay.run(inputs.read_blobs(corpus, 6))
    spans = replay.tracer.spans
    selfs = trace.self_times(spans)
    assert any(s["name"] == "sources.group" for s in spans)
    for s in spans:
        assert selfs[s["id"]] >= -1e-9
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert selfs[s["id"]] <= p["end"] - p["start"] + 1e-9
    m = replay.metrics()
    assert m["sources.pdf_parse_ms_per_doc"] > 0
    assert m["kernel.tokens_per_page"] > 0


def test_self_time_of_overlapping_children():
    spans = [{"id": 0, "start": 0.0, "end": 10.0, "parent": None},
             {"id": 1, "start": 1.0, "end": 4.0, "parent": 0},
             {"id": 2, "start": 3.0, "end": 6.0, "parent": 0},
             {"id": 3, "start": 9.0, "end": 12.0, "parent": 0}]
    assert trace.self_times(spans) == {0: 4.0, 1: 3.0, 2: 3.0, 3: 3.0}


def test_default_seed_inputs_match_their_pins(tmp_path):
    pins = checks.Pins(os.path.join(HERE, "pins.json"))
    for wl in ("pld_extract", "pdf_extract", "crawl_ingest"):
        corpus = inputs.build(wl, run.DEFAULT_SEED, str(tmp_path))
        assert pins.check(wl, "input_sha256", corpus.digest) == []
    sess = run.Session(str(tmp_path / "work"), 2)
    try:
        corpus = inputs.build("dedup_verify", run.DEFAULT_SEED,
                              str(tmp_path), sess.spark)
    finally:
        sess.stop()
    assert pins.check("dedup_verify", "input_sha256", corpus.digest) == []
    assert len(corpus.planted) == 12


def test_cache_key_covers_the_modules_synth_imports():
    names = {os.path.basename(p) for p in inputs._code_files()}
    assert {"synth.py", "layout_codec.py", "afm14.py", "evaluation.py",
            "inputs.py"} <= names


def test_missing_planted_pairs_fail_the_recall_floor():
    planted = [[k, 100 + k] for k in range(12)]
    pairs = [(a, b, 0.9) for a, b in planted] + [(50, 60, 0.5)]
    assert checks.recall_shortfall(pairs, planted, 1) == []
    assert checks.recall_shortfall(pairs[1:], planted, 1) == []
    assert checks.recall_shortfall(pairs[2:], planted, 1) != []
    assert checks.recall_shortfall([], planted, 1) != []
    assert checks.recall_shortfall(pairs[1:], planted, 0) != []


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable] + BENCH["command"]
        + ["--workload", BENCH["workloads"][0]["name"], "--seed", "1",
           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _result(capsys):
    lines = capsys.readouterr().out.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, tiny, monkeypatch,
                                               capsys):
    monkeypatch.setattr(run, "MIN_SAMPLES", 1)
    monkeypatch.setattr(run, "WARMUP_ACTIONS", 0)
    rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                   "--trace", "0"])
    lines, res = _result(capsys)
    assert rc == 0 and res["correct"], lines
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    for name in want:
        assert any(line.startswith(f"{name}: ") for line in lines)

    rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                   "--trace", "1"])
    lines, res = _result(capsys)
    assert rc == 0 and res["correct"], lines
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for name, unit in want.items():
        assert any(line.startswith(f"{name}: ") and f" {unit}  ->" in line
                   for line in lines), name
