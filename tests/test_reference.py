"""Unit tests for the golden single-node extractor (SURVEY.md §5.1)."""

import numpy as np
import pytest

from ocrflow import chartables as ct
from ocrflow import reference as R


def test_detect_kinds():
    assert R.detect_payload_kind("<html><body>x</body></html>") == "html"
    assert R.detect_payload_kind("<!DOCTYPE html><p>x</p>") == "html"
    assert R.detect_payload_kind("1,10,20,b0\thello") == "pdf"
    assert R.detect_payload_kind("just words") == "plain"
    assert R.detect_payload_kind("") == "plain"


def test_html_boilerplate_stripped():
    html = ('<html><body><nav><a href="/">Home</a><a>About</a></nav>'
            '<p>The actual main content of this page is long enough to keep '
            'around for scoring purposes.</p>'
            '<script>var x=1;</script>'
            '<footer>(c) 2026</footer></body></html>')
    r = R.extract_turn(html)
    assert "main content" in r.extracted_text
    assert "Home" not in r.extracted_text
    assert "var x" not in r.extracted_text
    assert "(c) 2026" not in r.extracted_text


def test_html_entities_decoded():
    r = R.extract_turn("<html><p>Fish &amp; chips &#x4e2d;&#22269; rule the "
                       "long paragraph of text we keep here</p></html>")
    assert "Fish & chips" in r.extracted_text
    assert "中国" in r.extracted_text


def test_linkfarm_dropped_content_kept():
    html = ('<html><body><div>' + " ".join(f'<a href="/{i}">link{i}</a>'
                                           for i in range(10)) + '</div>'
            '<p>Real prose with plenty of characters so the density model '
            'scores it above the keep threshold easily.</p></body></html>')
    r = R.extract_turn(html)
    assert "Real prose" in r.extracted_text
    assert "link3" not in r.extracted_text


def test_short_cjk_block_kept():
    r = R.extract_turn("<html><p>短的中文段落，"
                       "带有全角标点。</p></html>")
    assert "短的中文" in r.extracted_text


def test_pre_block_verbatim():
    r = R.extract_turn("<html><pre>def f(x):\n    return x</pre>"
                       "<p>Prose around it that is long enough to be kept "
                       "by the block scorer.</p></html>")
    assert "def f(x):\n    return x" in r.extracted_text
    assert any(k == "code" for _, _, k, _ in r.spans)


def test_pdf_reading_order():
    pdf = "1,20,1,b1\tsecond\n1,10,1,b0\tfirst goes first\n2,5,1,b2\tpage two"
    r = R.extract_turn(pdf)
    assert r.payload_kind == "pdf"
    assert r.extracted_text == "first goes first\nsecond\npage two"


def test_pdf_same_y_x_order():
    pdf = "1,10,50,b1\tright side block\n1,10,5,b0\tleft side block"
    assert R.extract_turn(pdf).extracted_text == "left side block\nright side block"


def test_plain_paragraphs_and_crlf():
    r = R.extract_turn("Para one here with some words.\r\n\r\nPara two.")
    assert r.extracted_text == "Para one here with some words.\nPara two."


def test_code_fence_kept_verbatim():
    r = R.extract_turn("Intro paragraph with several words here.\n\n"
                       "```python\nx = 1\n  y = 2\n```\n\nOutro words.")
    assert "x = 1\n  y = 2" in r.extracted_text
    code = [s for s in r.spans if s[2] == "code"]
    assert len(code) == 1
    s, e, _, _ = code[0]
    assert r.extracted_text[s:e] == "x = 1\n  y = 2"


def test_width_fold_alnum_keep_cjk_punct():
    r = R.extract_turn("Full width ＡＢＣ１２３ stays"
                       " folded，。")
    assert "ABC123" in r.extracted_text
    assert "，。" in r.extracted_text  # CJK punctuation NOT folded


def test_degenerate_inputs():
    assert R.extract_turn(None).extracted_text == ""
    assert R.extract_turn("").extracted_text == ""
    assert R.extract_turn("   \t\n ").extracted_text == ""
    assert R.extract_turn("<div><span></span></div>").extracted_text == ""
    r = R.extract_turn("中")
    assert r.extracted_text == "中"
    assert r.spans == [(0, 1, "cjk", 0.9 + 1 / 20)]


def test_long_single_line():
    r = R.extract_turn("x" * 1_000_000)
    assert len(r.extracted_text) == 1_000_000
    assert r.n_spans == 1 and r.spans[0][2] == "latin"


def test_control_chars_and_surrogates_stripped():
    r = R.extract_turn("ab\x00cd\x1fef and more words to keep this block")
    assert "abcdef" in r.extracted_text
    s = "ok \ud800 bad surrogate plus words to keep the block alive here"
    r2 = R.extract_turn(s)
    assert "\ud800" not in r2.extracted_text


def test_spans_properties():
    r = R.extract_turn("Latin words 123 mixed 中文，punct! end")
    prev_end = -1
    for s, e, k, sc in r.spans:
        assert 0 <= s < e <= len(r.extracted_text)
        assert s >= prev_end  # non-overlapping, sorted
        prev_end = s if k == "cjk" else e
        assert k in R.SPAN_KINDS
        assert sc > 0
    cjk = [r.extracted_text[s:e] for s, e, k, _ in r.spans if k == "cjk"]
    assert cjk == ["中", "文"]  # per-char CJK spans (per-glyph analog)
    nums = [r.extracted_text[s:e] for s, e, k, _ in r.spans if k == "num"]
    assert nums == ["123"]


def test_deterministic_and_idempotent():
    payload = "<html><p>Stable content 中文 here with words.</p></html>"
    a, b = R.extract_turn(payload), R.extract_turn(payload)
    assert a.extracted_text == b.extracted_text and a.spans == b.spans
    again = R.extract_turn(a.extracted_text)
    assert again.extracted_text == a.extracted_text


def test_classify_kernel_is_batched_matvec():
    n = 7
    s = ct.score_blocks(np.full(n, 200.0), np.zeros(n), np.zeros(n), np.zeros(n))
    assert s.shape == (n,) and np.all(s > 0)
    drop = ct.score_blocks(np.array([30.0]), np.array([0.9]),
                           np.array([0.0]), np.array([0.0]))
    assert drop[0] < 0


def test_score_blocks_is_row_invariant():
    """A block's score must not depend on its batch neighbours: the
    kernel scores a whole Arrow batch of turns in one call, the golden
    extractor one turn at a time."""
    rng = np.random.default_rng(5)
    n = 20_000
    lengths = rng.integers(1, 400, n).astype(np.float64)
    ld, code, cjk = rng.random(n), (rng.random(n) < 0.2) * 1.0, rng.random(n)
    whole = ct.score_blocks(lengths, ld, code, cjk)
    cuts = np.sort(rng.choice(np.arange(1, n), 300, replace=False))
    parts = [ct.score_blocks(lengths[a:b], ld[a:b], code[a:b], cjk[a:b])
             for a, b in zip([0, *cuts], [*cuts, n])]
    assert whole.tobytes() == np.concatenate(parts).tobytes()
