"""The single-node golden extractor — the byte-for-byte equality oracle.

This module plays the role the reference repo itself plays for the graft
(BASELINE.json north_star: "projection-profile character segmentation,
per-glyph CNN classification, greedy decode to text"): a pure,
single-process implementation whose output the distributed Spark
pipeline must reproduce byte-for-byte under ``python -m pytest -x -q``
(per-turn text equality under stable turn ordering — BASELINE.json
north_rule). Zero Spark imports; stdlib ``re`` + ``html.unescape`` +
numpy only (no bs4/lxml/cv2/tensorflow — from scratch, NOT a port).
Each payload is parsed in a few C-level passes: one ``re.split`` token
list per HTML document, one ``findall`` per pdf dump, and ``str.split``
for every whitespace rule.

Pipeline stages (SURVEY.md §2.A), mirroring the reference loop:

  A2 normalize payload   detect_payload_kind + canonicalize
  A3 block segmentation  html → DOM-lite blocks (text/link density);
                         pdf-dump → layout blocks re-ordered by (page,y,x);
                         plain/markdown → paragraphs + code fences
  A4 span segmentation   CJK per-char, latin per-word, digit/punct runs
  A5 canonicalization    NFC, control/surrogate strip, width-fold
                         full-width alnum, whitespace collapse
  A6 classify kernel     batched linear scorer (chartables.score_blocks)
  A7 greedy stitch       keep score ≥ τ, join in document order

Every byte-level decision is FROZEN here (SURVEY.md §7-M1): NFC, '\\n'
separator, τ=0.0, fold-alnum-keep-CJK-punct, per-char CJK spans.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Sequence
from dataclasses import dataclass
from html import unescape as _unescape

import numpy as np

from . import chartables as ct

PAYLOAD_HTML = "html"
PAYLOAD_PDF = "pdf"
PAYLOAD_PLAIN = "plain"

SPAN_KINDS = ("cjk", "latin", "num", "punct", "code", "block")
_KIND_CODE = {k: i for i, k in enumerate(SPAN_KINDS)}
_BASE_BY_CODE = np.array([ct.SPAN_BASE[k] for k in SPAN_KINDS], dtype=np.float64)

_HTML_SIG = re.compile(
    r"<\s*(?:!doctype|html|head|body|div|p|a|span|h[1-6]|article|section|"
    r"nav|header|footer|ul|ol|li|table|br|script|style)\b", re.IGNORECASE)
#: a pdf record line, `page,y,x,block_id\ttext`: one findall collects
#: every record of a payload as (page, y, x, text)
_PDF_RECORD = re.compile(
    r"^(\d+),(\d+(?:\.\d+)?),(\d+(?:\.\d+)?),\w+\t(.*)$", re.MULTILINE)
_BLANK_LINE = re.compile(r"\n[ \t]*\n")

# tags whose entire subtree is boilerplate (dropped before scoring)
_SKIP_TAGS = frozenset({"script", "style", "nav", "header", "footer", "aside",
                        "noscript", "form", "iframe", "svg", "head", "button",
                        "select", "option", "template", "title"})
# tags that open/close a block boundary
_BLOCK_TAGS = frozenset({"p", "div", "article", "section", "main", "li",
                         "h1", "h2", "h3", "h4", "h5", "h6", "td", "th", "tr",
                         "blockquote", "pre", "ul", "ol", "table", "body",
                         "html", "figure", "figcaption", "dd", "dt"})
_VOID_BREAKS = frozenset({"br", "hr"})


def canonicalize(text: str, is_code: bool = False) -> str:
    """A5: NFC, strip controls/surrogates, fold full-width alnum, collapse ws.

    Code blocks keep internal newlines/indentation; only line endings are
    normalized and outer blank lines trimmed. Frozen rule set (§7-M1).
    """
    if not text:
        return ""
    # surrogates break NFC; strip via translate first
    if ct._CANON_CHARS.search(text):
        text = text.translate(ct._CANON_TABLE)
    if not text.isascii():
        # ASCII is NFC-closed: normalize() is the identity there, and
        # isascii() is a single C scan — skip the normalizer quickcheck
        text = unicodedata.normalize("NFC", text)
    if is_code:
        text = text.replace("\r\n", "\n").replace("\r", "\n")
        return text.strip("\n")
    return " ".join(text.split())


def detect_payload_kind(text: str) -> str:
    """A2: cheap signature sniff on the payload head. Frozen rule."""
    if not text:
        return PAYLOAD_PLAIN
    head = text[:4096].lstrip()
    if _HTML_SIG.search(head[:512]):
        return PAYLOAD_HTML
    first_line = head.split("\n", 1)[0]
    if _PDF_RECORD.match(first_line):
        return PAYLOAD_PDF
    return PAYLOAD_PLAIN


@dataclass
class Block:
    text: str            # canonicalized
    link_density: float  # link chars / non-space chars, pre-canonical
    is_code: bool


# One re.split per payload tokenizes the whole HTML document. Its two
# groups (end-tag slash, tag name) interleave the text runs as
# [data, close, name, data, close, name, ...]; every other separator
# leaves both groups None and is dropped with its content:
#   - comments (unterminated → EOF), CDATA, <!doctype> and <?pi?>;
#   - whole raw-text elements (script/style/textarea/title): the start
#     tag through the matching end tag, or through EOF if there is none.
#     Their content runs to the end tag regardless of '<', and they are
#     net no-ops for the block state (no flush, content dropped).
# A raw-text start tag's name is ASCII case-insensitive and maximal, as a
# tag name is; its end tag matches with Unicode IGNORECASE (frozen rule:
# '</ſcript>' closes a script, '<ſcript>' is text). Attribute values may
# contain a quoted '>'.
_ATTRS = r"(?:[^>\"']|\"[^\"]*\"|'[^']*')*"
_SPLIT = re.compile(
    r"<!--.*?(?:-->|$)"                       # comments (unterminated → EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"             # CDATA
    r"|<![^>]*>|<\?[^>]*>"                    # doctype / PI
    + "".join(f"|<(?a:(?i:{t}))(?![a-zA-Z0-9:-]){_ATTRS}>"
              f".*?(?:(?i:</{t}\\b[^>]*>)|\\Z)"
              for t in ("script", "style", "textarea", "title"))
    + f"|<(/?)([a-zA-Z][a-zA-Z0-9:-]*){_ATTRS}>",  # start / end tag
    re.DOTALL)

# per-tag action of the A3 block walk; any other tag is inert
_SKIP, _BLOCK, _PRE, _BREAK, _A = 1, 2, 3, 4, 5
_TAG_ACTION = {**{t: _SKIP for t in _SKIP_TAGS},
               **{t: _BLOCK for t in _BLOCK_TAGS}, "pre": _PRE,
               **{t: _BREAK for t in _VOID_BREAKS}, "a": _A}


def _flush(blocks: list[Block], chunks: list[str], links: list[str],
           is_code: bool) -> None:
    """Close the open block: the graft analog of one cut of the
    horizontal projection profile (A3). A block carries its text mass and
    link mass; the density features drive the classify kernel."""
    raw = "".join(chunks)
    link_raw = "".join(links)
    chunks.clear()
    links.clear()
    canon = canonicalize(raw, is_code=is_code)
    if not canon:
        return
    # |\S| as the summed lengths of the whitespace-split words
    n = sum(map(len, raw.split()))
    nl = sum(map(len, link_raw.split()))
    blocks.append(Block(canon, nl / n if n else 0.0, is_code))


def segment_html(text: str) -> list[Block]:
    """A3 html path: DOM-lite blocks cut at block and break tags; the
    subtrees of skip tags are dropped; text inside <a> is link mass;
    <pre> content is a code block. Entities are decoded per text run."""
    blocks: list[Block] = []
    chunks: list[str] = []   # text runs of the open block
    links: list[str] = []    # the ones of those inside <a>
    skip = a = pre = 0
    toks = _SPLIT.split(text)
    toks[:0] = (None, None)  # the first text run follows no tag
    it = iter(toks)
    for close, name, raw in zip(it, it, it):
        if name is not None:
            act = _TAG_ACTION.get(name.lower())
            if act is None:
                pass
            elif act == _SKIP:
                if not close:
                    skip += 1
                elif skip:
                    skip -= 1
            elif skip:
                pass
            elif act == _A:
                if not close:
                    a += 1
                elif a:
                    a -= 1
            elif act != _BREAK or not close:
                if chunks:
                    _flush(blocks, chunks, links, pre > 0)
                if act == _PRE:
                    if not close:
                        pre += 1
                    elif pre:
                        pre -= 1
        if raw and not skip:
            if "&" in raw:
                raw = _unescape(raw)
            chunks.append(raw)
            if a:
                links.append(raw)
    if chunks:
        _flush(blocks, chunks, links, pre > 0)
    return blocks


def segment_pdf(text: str) -> list[Block]:
    """A3 pdf path: parse `page,y,x,block_id\\ttext` lines, re-order by
    (page, y, x) — the layout analog of reading-order line cuts. Lines
    not matching the record shape are skipped (frozen rule); ties keep
    line order."""
    recs = [(int(page), float(y), float(x), i, t) for i, (page, y, x, t)
            in enumerate(_PDF_RECORD.findall(text))]
    recs.sort()
    blocks = []
    for *_ignored, t in recs:
        canon = canonicalize(t)
        if canon:
            blocks.append(Block(canon, 0.0, False))
    return blocks


def segment_plain(text: str) -> list[Block]:
    """A3 plain/markdown path: code fences verbatim, paragraphs on blank
    lines. Frozen rule: fence markers themselves are dropped; an
    unterminated fence runs to end of payload."""
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    blocks: list[Block] = []
    parts = text.split("```")
    for i, part in enumerate(parts):
        in_code = (i % 2 == 1)
        if in_code:
            # drop an info-string on the first line (```python)
            if "\n" in part:
                first, rest = part.split("\n", 1)
                body = rest if first.strip() else part
            else:
                body = part
            canon = canonicalize(body, is_code=True)
            if canon:
                blocks.append(Block(canon, 0.0, True))
        else:
            for para in _BLANK_LINE.split(part):
                canon = canonicalize(para)
                if canon:
                    blocks.append(Block(canon, 0.0, False))
    return blocks


def segment_blocks(text: str | None) -> tuple[str, list[Block]]:
    """A2+A3: sniff the payload kind, then parse it into blocks.

    A null or empty payload is plain and has no blocks (frozen rule)."""
    if not text:
        return PAYLOAD_PLAIN, []
    kind = detect_payload_kind(text)
    if kind == PAYLOAD_HTML:
        return kind, segment_html(text)
    if kind == PAYLOAD_PDF:
        return kind, segment_pdf(text)
    return kind, segment_plain(text)


def _score_and_keep(blocks: list[Block], weights: dict,
                    role: str | None | Sequence[str | None] = None
                    ) -> list[Block]:
    """A6+A7: batched linear classify, threshold at τ, keep document order.

    ``role`` feeds the A6 role prior: one role (``str`` or ``None``)
    shared by every block, or a sequence with one role per block, which
    lets the kernel score a whole Arrow batch of turns in one call.

    The whole block batch is featurized in single numpy passes — one
    codepoint-class lookup over the concatenated text serves every
    block's cjk_ratio (reduceat over block offsets)."""
    if not blocks:
        return []
    lengths = np.fromiter((len(b.text) for b in blocks), dtype=np.int64,
                          count=len(blocks))
    ld = np.fromiter((b.link_density for b in blocks), dtype=np.float64,
                     count=len(blocks))
    code = np.fromiter((b.is_code for b in blocks), dtype=np.float64,
                       count=len(blocks))
    # one class-table pass over all block text; per-block CJK counts via
    # reduceat on the block offsets
    joined = "".join(b.text for b in blocks)
    is_cjk = (ct.char_classes(joined) == ct.CLS_CJK).astype(np.int64)
    offsets = np.zeros(len(blocks), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    counts = np.add.reduceat(is_cjk, offsets) if len(is_cjk) else offsets
    cjk = counts / np.maximum(lengths, 1)
    scores = ct.score_blocks(lengths.astype(np.float64), ld, code, cjk,
                             weights["block_weights"])
    # A6 role prior: a constant shift of every block score of a turn
    prior = weights.get("role_prior", {})
    if role is None or isinstance(role, str):
        scores = scores + prior.get(role, 0.0)
    else:
        scores = scores + np.fromiter((prior.get(r, 0.0) for r in role),
                                      dtype=np.float64, count=len(blocks))
    tau = weights["tau"]
    return [b for b, s in zip(blocks, scores) if s >= tau]


def _stitch(kept: list[Block]) -> tuple[str, list[tuple[int, int]]]:
    """A7 greedy stitch: '\\n' separator, document order (frozen).

    Returns the extracted text and the ``[start, end)`` ranges of its
    code blocks."""
    pieces, code_ranges = [], []
    pos = 0
    for b in kept:
        if pieces:
            pos += 1  # separator
        if b.is_code:
            code_ranges.append((pos, pos + len(b.text)))
        pieces.append(b.text)
        pos += len(b.text)
    return "\n".join(pieces), code_ranges


def segment_spans(text: str, code_ranges: list[tuple[int, int]]):
    """A4: span segmentation of the stitched text.

    The vertical-projection analog: a vectorized codepoint→class lookup
    (np.take) finds run boundaries; CJK chars are one span each (the
    per-glyph unit of the reference), latin/digit/punct are maximal
    runs, code regions are one span. Returns parallel arrays
    (starts, ends, kind_codes) as int64 numpy arrays.
    """
    n = len(text)
    if n == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
    cls = ct.char_classes(text).astype(np.int64)
    # mask out code regions (handled as whole spans below)
    in_code = np.zeros(n, dtype=bool)
    for s, e in code_ranges:
        in_code[s:e] = True

    kind = np.empty(n, dtype=np.int64)
    kind[cls == ct.CLS_CJK] = _KIND_CODE["cjk"]
    kind[cls == ct.CLS_LATIN] = _KIND_CODE["latin"]
    kind[cls == ct.CLS_DIGIT] = _KIND_CODE["num"]
    kind[(cls == ct.CLS_PUNCT) | (cls == ct.CLS_OTHER)] = _KIND_CODE["punct"]
    is_space = cls == ct.CLS_SPACE
    kind[is_space] = -1
    kind[in_code] = -2  # sentinel: excluded from run segmentation

    is_cjk = kind == _KIND_CODE["cjk"]
    member = kind >= 0
    prev_kind = np.empty(n, dtype=np.int64)
    prev_kind[0] = -99
    prev_kind[1:] = kind[:-1]
    prev_cjk = np.empty(n, dtype=bool)
    prev_cjk[0] = False
    prev_cjk[1:] = is_cjk[:-1]
    starts_mask = member & ((kind != prev_kind) | is_cjk | prev_cjk)
    # a run ends where the next position starts a new run or leaves membership
    next_break = np.empty(n, dtype=bool)
    next_break[-1] = True
    next_break[:-1] = starts_mask[1:] | ~member[1:]
    starts = np.flatnonzero(starts_mask)
    ends = np.flatnonzero(member & next_break) + 1
    kcodes = kind[starts]

    if code_ranges:
        cs = np.array([s for s, _ in code_ranges], dtype=np.int64)
        ce = np.array([e for _, e in code_ranges], dtype=np.int64)
        ck = np.full(len(cs), _KIND_CODE["code"], dtype=np.int64)
        starts = np.concatenate([starts, cs])
        ends = np.concatenate([ends, ce])
        kcodes = np.concatenate([kcodes, ck])
        order = np.argsort(starts, kind="stable")
        starts, ends, kcodes = starts[order], ends[order], kcodes[order]
    return starts, ends, kcodes


@dataclass
class ExtractResult:
    extracted_text: str
    spans: list  # list[(start:int, end:int, kind:str, score:float)]
    payload_kind: str

    @property
    def n_spans(self) -> int:
        return len(self.spans)


def extract_turn_arrays(text: str | None, weights: dict,
                        role: str | None = None):
    """The full A2→A7 loop for one turn, flat-array form.

    Returns ``(extracted_text, starts, ends, kind_codes, scores,
    payload_kind)`` with numpy arrays. ``role`` feeds the A6 role prior
    (tool/system turns need more evidence). This is the per-turn oracle:
    ``kernel.extract_batch``, which runs A6 and A4 once per Arrow batch,
    must equal it turn by turn.
    """
    kind, blocks = segment_blocks(text)
    extracted, code_ranges = _stitch(_score_and_keep(blocks, weights, role))

    starts, ends, kcodes = segment_spans(extracted, code_ranges)
    lengths = (ends - starts).astype(np.float64)
    scores = ct.score_spans(kcodes, lengths, _BASE_BY_CODE)
    return extracted, starts, ends, kcodes, scores, kind


def extract_turn(text: str | None, weights: dict | None = None,
                 role: str | None = None) -> ExtractResult:
    """The golden per-turn function (object form used by tests/oracle)."""
    weights = weights or ct.default_weights()
    extracted, starts, ends, kcodes, scores, kind = extract_turn_arrays(
        text, weights, role)
    spans = [(int(s), int(e), SPAN_KINDS[k], float(sc))
             for s, e, k, sc in zip(starts, ends, kcodes, scores)]
    return ExtractResult(extracted, spans, kind)

