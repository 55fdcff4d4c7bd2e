"""Unit tests for the golden single-node extractor (SURVEY.md §5.1)."""

import hashlib
import random

import numpy as np
import pytest

from ocrflow import chartables as ct
from ocrflow import reference as R
from ocrflow import synth


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


def test_classify_kernel_scores_batch():
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


#: A3 tokenizer edge semantics: payload → (kind, [(text, link_density,
#: is_code)]) from segment_blocks, frozen from the per-tag tokenizer the
#: one-split parser replaced
_TOKENIZER_EDGES = [
    # raw-text content runs to its end tag regardless of '<'
    ("<p>a</p><script>if(a<b)</script><p>c</p>",
     ("html", [("a", 0.0, False), ("c", 0.0, False)])),
    ('<p>a<SCRIPT type="x">var s = "</p>";</script >b</p>',
     ("html", [("ab", 0.0, False)])),
    # the end tag matches with Unicode IGNORECASE, the start tag in ASCII
    ("<p>a<script>x</ſcript>b</p>", ("html", [("ab", 0.0, False)])),
    ("<p>a<ſcript>b</p>", ("html", [("a<ſcript>b", 0.0, False)])),
    # an unterminated raw-text element drops the rest of the payload
    ("<p>keep</p><title>rest <p>of the payload",
     ("html", [("keep", 0.0, False)])),
    ("<p>keep</p><script>rest <p>of the payload",
     ("html", [("keep", 0.0, False)])),
    ("<div>a<textarea>typed <b>text</b></textarea>b</div>",
     ("html", [("ab", 0.0, False)])),
    ("<p data-x=\"a>b\" title='c>d'>quoted</p>",
     ("html", [("quoted", 0.0, False)])),
    # comments and CDATA run to EOF when unterminated
    ("<p>a<!-- unterminated <p>b", ("html", [("a", 0.0, False)])),
    ("<p>a<![CDATA[ x <p> y", ("html", [("a", 0.0, False)])),
    ('<!DOCTYPE html><?xml version="1.0"?><p>x</p>',
     ("html", [("x", 0.0, False)])),
    # entities decode per text run: a tag splits "&amp;"
    ("<p>fish &am<span>p; chips</p>",
     ("html", [("fish &amp; chips", 0.0, False)])),
    # "<x/>" is a start tag: <pre/> opens a code block, <script/> a script
    ("<p>a<pre/>code  x</pre>b",
     ("html", [("a", 0.0, False), ("code  x", 0.0, True),
               ("b", 0.0, False)])),
    ("<p>a<script/>b</p>", ("html", [("a", 0.0, False)])),
    # skip tags nest; a stray end tag is ignored
    ("<p>a<nav>b<nav>c</nav>d</nav>e</p>", ("html", [("ae", 0.0, False)])),
    ("<p></nav>x<nav>y", ("html", [("x", 0.0, False)])),
    # an <a> stays open across a block break
    ('<p>pre <a href="/">link<p>after</a> tail</p>',
     ("html", [("pre link", 0.5714285714285714, False),
               ("after tail", 0.5555555555555556, False)])),
    # U+3000, U+0085 and \x1c are whitespace for the link mass, and
    # canonicalize strips the two controls
    ("<p>a\u3000b<a>\x85c\x1cd</a></p>", ("html", [("a bcd", 0.5, False)])),
    ("a\u3000b\x85c\x1cd", ("plain", [("a bcd", 0.0, False)])),
    ("1,10,20,b0\ta\u3000b\x85c\x1cd", ("pdf", [("a bcd", 0.0, False)])),
    # pdf records tied on (page, y, x) keep their line order
    ("1,5,5,b1\tfirst\nnoise\n1,5,5,b0\tsecond\n1,5.0,5,b2\tthird",
     ("pdf", [("first", 0.0, False), ("second", 0.0, False),
              ("third", 0.0, False)])),
]


@pytest.mark.parametrize("payload,expected", _TOKENIZER_EDGES)
def test_tokenizer_edge_semantics(payload, expected):
    kind, blocks = R.segment_blocks(payload)
    assert (kind, [(b.text, b.link_density, b.is_code) for b in blocks]) \
        == expected


#: tag-soup alphabet for the corpus digest: raw-text tags in mixed case,
#: U+017F, comments, CDATA, entities, <pre>, <a>, quoted '>' attributes,
#: whitespace controls and pdf-shaped lines
_SOUP = (
    "<p>", "</p>", "<div class=\"a>b\">", "<a href='x>y'>", "</a>", "<A>",
    "<pre>", "</pre>", "<pre/>", "<br/>", "<hr>", "</br>", "<li/>", "<td>",
    "<h1>", "</H1>", "<b>", "</b>", "<span", "<x-y:z>", "<scriptx>",
    "<script-a>", "<SCRIPT>", "<script/>", "</script>", "</ScRiPt >",
    "<Style>", "</style>", "<textarea>", "</TEXTAREA>", "<title>", "</title>",
    "</ſcript>", "<ſcript>", "<nav>", "</nav>", "<Footer>",
    "<!-- c -->", "<!--", "-->", "<![CDATA[", "]]>", "<!DOCTYPE html>",
    "<?xml?>", "&amp;", "&am", "p;", "&#x4e2d;", "&notx", "&#1;", "<", ">",
    "\"", "'", "/", "=", "word", "more words", "中文", "\u3000",
    "\x85", "\x1c", "\n", "\n\n", "\r\n", "\t", " ", "１２ｂ",
    "1,10.5,20,b0\tpdf line\n", "```", "```py\n", "\ud800",
)


def _tag_soup(n: int, seed: int):
    rng = random.Random(seed)
    heads = ("", "<html>", "1,2,3,b\t", "\n")
    for _ in range(n):
        yield rng.choice(heads) + "".join(
            rng.choice(_SOUP) for _ in range(rng.randint(1, 40)))


def _blocks_digest(payloads) -> str:
    h = hashlib.sha256()
    for p in payloads:
        kind, blocks = R.segment_blocks(p)
        h.update(kind.encode() + b"\0")
        for b in blocks:
            h.update(f"{b.text}\x01{b.link_density!r}\x01{b.is_code:d}\x02"
                     .encode("utf-8", "surrogatepass"))
    return h.hexdigest()


def test_block_parse_corpus_digest():
    """Any A2/A3/A5 rewrite must reproduce these digests, recorded from
    the per-tag tokenizer: every block's text, link density and code flag
    over a skewed synth corpus and 20,000 tag-soup strings."""
    rows = synth.gen_rows(4000, seed=42, monster_every=150, monster_size=8000)
    assert _blocks_digest(r["text"] for r in rows) == (
        "0d59235aaf3ec263cff22fcd33703f9a09b85aeb9fe3a248f1864e4c22c5d83a")
    assert _blocks_digest(_tag_soup(20_000, seed=7)) == (
        "9994e8af5f4a79735c4d7abeb1b4d05f4efbaee08b7c597c6c1378c50c7bc208")
