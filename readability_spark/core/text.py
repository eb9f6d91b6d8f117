"""Text utilities: whitespace normalization, similarity, word helpers.

Behavioral parity targets: ``Readability/SpanExtensions.cs:13-103``
(ToTrimString) and ``Readability.js`` regex helpers (normalize ``\\s{2,}``
:152, ``_textSimilarity`` :966-981). JavaScript character-class semantics are
reproduced deliberately:

- JS ``\\s`` ⊇ Python ``\\s``: it also matches U+FEFF (BOM); Python's also
  matches a few C1 controls JS's doesn't. We pin an explicit JS-compatible
  whitespace class so threshold decisions (text lengths, word counts) match.
- JS ``\\W`` without the ``u`` flag is ASCII-only → tokenize with re.ASCII.
- JS ``/\\S$/`` anchors at true end-of-string → use ``\\Z`` (Python ``$`` also
  matches before a trailing newline).
"""

from __future__ import annotations

import re

# JavaScript WhiteSpace ∪ LineTerminator (what JS \s and String.trim use).
JS_WS_CHARS = (
    "\t\n\x0b\x0c\r   "
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "    　﻿"
)
_C = "\\t\\n\\x0b\\x0c\\r \\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff"

_WS_RUN = re.compile("[" + _C + "]+")
_WS_RUN2 = re.compile("[" + _C + "]{2,}")  # JS REGEXPS.normalize
_WS_SPLIT = _WS_RUN
_HAS_CONTENT = re.compile("[^" + _C + "]\\Z")  # JS /\S$/
_ALL_WS = re.compile("^[" + _C + "]*\\Z")  # JS /^\s*$/
_TOKENIZE = re.compile(r"\W+", re.ASCII)  # JS /\W+/ (no u flag)

# The nine comma variants Readability's paragraph scorer splits on
# (JS REGEXPS.commas): U+002C U+060C U+FE50 U+FE10 U+FE11 U+2E41 U+2E34
# U+2E32 U+FF0C.
COMMAS_RE = re.compile(
    "[,،﹐︐︑⹁⸴⸲，]"
)


def js_trim(text: str) -> str:
    """String.prototype.trim semantics (trims NBSP and BOM too)."""
    return text.strip(JS_WS_CHARS)


def normalize_spaces(text: str) -> str:
    """Collapse every whitespace run to a single space and trim.

    The canonical text form for byte-identity comparison (reference
    ToTrimString semantics, SpanExtensions.cs:29-64 — collapses *every* run).
    """
    return _WS_RUN.sub(" ", text).strip(JS_WS_CHARS)


def inner_text(el, normalize: bool = True) -> str:
    """JS _getInnerText (Readability.js:2028-2037): textContent.trim(),
    then collapse runs of >= 2 whitespace chars when normalizing.

    The normalized form is cached per element until its subtree changes
    (same scheme as Element.text_content): the scoring passes call this
    repeatedly on overlapping ancestor chains, and the whitespace regex
    re-scan was a top-3 self-time cost in the extraction profile."""
    if not normalize:
        return js_trim(el.text_content)
    cached = getattr(el, "_itn", None)
    if cached is not None:
        return cached
    text = _WS_RUN2.sub(" ", js_trim(el.text_content))
    try:
        el._itn = text
    except AttributeError:
        pass
    return text


def canonical_text(el) -> str:
    """The per-url byte-identity invariant (FIXTURES.md §3): text nodes in
    document order, each whitespace-collapsed, empties dropped, joined with a
    single space. Insensitive to inter-block formatting whitespace (the golden
    expected.html files are pretty-printed)."""
    from readability_spark.dom.node import Element, Text

    parts = []
    run: list = []  # directly-adjacent sibling text nodes merge into one run
    # (serialize→reparse would merge them; the goldens went through that)

    def flush():
        if run:
            norm = normalize_spaces("".join(run))
            run.clear()
            if norm:
                parts.append(norm)

    if not isinstance(el, Element):
        return ""
    # iterative (children, index) walk — depth-safe; entering an element
    # flushes the pending run, and so does leaving it (comments are invisible
    # and do not break a text run — the golden corpus generator strips them)
    stack: list = []
    children = el.children
    i, n = 0, len(children)
    while True:
        while i < n:
            node = children[i]
            i += 1
            if isinstance(node, Text):
                run.append(node.data)
            elif isinstance(node, Element):
                flush()
                stack.append((children, i, n))
                children = node.children
                i, n = 0, len(children)
        flush()
        if not stack:
            break
        children, i, n = stack.pop()
    return " ".join(parts)


def text_similarity(a: str, b: str) -> float:
    """Token-overlap similarity (JS _textSimilarity, Readability.js:966-981)."""
    tokens_a = [t for t in _TOKENIZE.split(a.lower()) if t]
    tokens_b = [t for t in _TOKENIZE.split(b.lower()) if t]
    if not tokens_a or not tokens_b:
        return 0.0
    set_a = set(tokens_a)
    uniq_b = [t for t in tokens_b if t not in set_a]
    distance = len(" ".join(uniq_b)) / len(" ".join(tokens_b))
    return 1.0 - distance


def word_count(text: str) -> int:
    """JS ``str.split(/\\s+/).length`` — counts empty leading segment too."""
    return len(_WS_SPLIT.split(text))


def has_content(text: str) -> bool:
    """JS REGEXPS.hasContent = /\\S$/ — ends with a non-whitespace char."""
    return _HAS_CONTENT.search(text) is not None


def is_all_whitespace(text: str) -> bool:
    """JS REGEXPS.whitespace = /^\\s*$/."""
    return _ALL_WS.match(text) is not None


def comma_split_count(text: str) -> int:
    """JS ``innerText.split(REGEXPS.commas).length`` (segments, not commas)."""
    return len(COMMAS_RE.findall(text)) + 1


def unescape_html_entities(text):
    """JS _unescapeHtmlEntities (Readability.js:1587-1607): the five named
    entities plus numeric refs with the invalid→U+FFFD mapping."""
    if not text:
        return text
    named = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}
    text = re.sub(r"&(quot|amp|apos|lt|gt);", lambda m: named[m.group(1)], text)

    def _numeric(m):
        hex_str, num_str = m.group(1), m.group(2)
        num = int(hex_str, 16) if hex_str else int(num_str)
        if num == 0 or num > 0x10FFFF or 0xD800 <= num <= 0xDFFF:
            num = 0xFFFD
        return chr(num)

    return re.sub(r"&#(?:x([0-9a-fA-F]+)|([0-9]+));", _numeric, text)
