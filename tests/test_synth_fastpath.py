"""r7 optimization pins: the corpus generator's cent-grid fast path.

``_line_chars`` now computes char positions as integer cents
(x_cents + cumsum(width_cents)) / 100 when the line start sits on the
cent grid, instead of per-char float accumulation + round(…, 2).  The
two are provably equal while the float accumulation stays within
0.005 of the exact decimal sum (it stays within ~1e-10); these tests
pin the equivalence empirically across every corpus flavour and the
off-grid fallback.
"""

from __future__ import annotations

import numpy as np
import pytest

from parsee_pdf_reader_spark.sources import synth


def _slow_reference(text, x, baseline, size, bold=False, y_jitter=0.0):
    # the pre-r7 per-char loop, kept verbatim as the oracle
    chars = []
    cx = x
    for ch in text:
        w = synth.char_width(ch, size)
        chars.append((round(cx, 2), round(cx + w, 2),
                      round(baseline + y_jitter, 2),
                      round(baseline + size + y_jitter, 2), size,
                      bold and ch != " ", ch))
        cx += w
    return chars


def _as_tuples(chars):
    return [(c.x0, c.x1, c.y0, c.y1, c.size, c.bold, c.text)
            for c in chars]


def test_line_chars_on_grid_matches_slow_loop():
    rng = np.random.default_rng(7)
    for _ in range(300):
        n = int(rng.integers(0, 120))
        text = "".join(chr(int(rng.integers(32, 127))) for _ in range(n))
        x = round(float(rng.uniform(0, 600)), 2)
        baseline = round(float(rng.uniform(30, 760)), 2)
        size = float(rng.choice([8.0, 10.0, 12.0, 14.0]))
        jit = float(rng.choice([0.0, 3.0]))
        bold = bool(rng.integers(0, 2))
        got = _as_tuples(synth._line_chars(text, x, baseline, size,
                                           bold, jit))
        want = _slow_reference(text, x, baseline, size, bold, jit)
        assert got == want


def test_line_chars_off_grid_takes_slow_path_and_matches():
    rng = np.random.default_rng(11)
    for _ in range(200):
        text = "total revenue (12,3)45"
        x = float(rng.uniform(2, 560))  # chaos-style raw uniform
        baseline = float(rng.uniform(30, 760))
        got = _as_tuples(synth._line_chars(text, x, baseline, 10.0))
        want = _slow_reference(text, x, baseline, 10.0)
        assert got == want


@pytest.mark.parametrize("builder,key", [
    ("build_stress_document", "s"),
    ("build_chaos_document", "c"),
])
def test_document_builders_stable_across_paths(builder, key):
    # stress uses grid starts (fast), chaos uses raw uniforms (slow
    # fallback); both must round-trip the codec unchanged
    fn = getattr(synth, builder)
    for k in range(25):
        blob = fn(f"fp{key}{k}", 42)
        assert blob[:4] == b"PLD2"


def test_build_document_text_and_bytes_deterministic():
    b1, t1 = synth.build_document("fastpath-doc", 42, "alpha beta " * 60)
    b2, t2 = synth.build_document("fastpath-doc", 42, "alpha beta " * 60)
    assert b1 == b2 and t1 == t2


def _run_seq():
    from parsee_pdf_reader_spark.sources.layout_codec import CharRun, RunSeq

    return RunSeq([CharRun("ab", [1000, 1550, 2100], 20.0, 30.0, 10.0,
                           False),
                   CharRun("c d", [2500, 3000, 3250, 3800], 20.0, 30.0,
                           10.0, True)])


def test_run_seq_tail_proxy_names_unsupported_attributes():
    seq = _run_seq()
    assert seq[-1].x1 == 38.0
    for name in ("x0", "y0", "text", "size", "bold"):
        with pytest.raises(AttributeError, match=f"only x1, not '{name}'"):
            getattr(seq[-1], name)
    assert not hasattr(seq[-1], "text")


def test_run_seq_other_indexes_return_full_chars():
    seq = _run_seq()
    chars = seq.chars()
    assert len(seq) == len(chars) == 5
    for i in (0, 1, 3, -2, -5):
        c = seq[i]
        assert (c.x0, c.x1, c.text, c.bold) == (
            chars[i].x0, chars[i].x1, chars[i].text, chars[i].bold)
    assert (seq[0].x0, seq[0].x1, seq[0].text) == (10.0, 15.5, "a")
    assert (seq[-2].x0, seq[-2].x1, seq[-2].bold) == (30.0, 32.5, False)
    assert seq[-1].x1 == chars[-1].x1
