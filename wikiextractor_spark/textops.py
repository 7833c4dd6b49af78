"""Pure-Python wikitext operators (the engine's UDF kernels).

These functions reproduce, bug-for-bug, the per-document semantics of
the reference pipeline (SURVEY.md §2.4-2.6).  They are plain
``str -> str`` / ``str -> list[str]`` kernels with **no Spark
dependency**, so they unit-test instantly and get wrapped by the
Arrow-batched pandas UDFs in :mod:`wikiextractor_spark.udfs`.

Bug-compatibility notes (each verified by differential tests in
``tests/test_textops_differential.py`` against the reference run
directly):

* ``drop_nested`` keeps the reference's unbalanced-input behavior:
  a close with no matching open collapses all pending matches into a
  single span (reference ``WikiExtractor.py:274-327``).
* ``unescape_entities`` leaves malformed references untouched rather
  than using ``html.unescape`` (reference ``WikiExtractor.py:205-220``)
  and is applied **twice** by ``clean_wikitext`` (``:398-400``).
* Placeholder substitution replaces *every* occurrence of an
  identical matched string with the index of its first occurrence
  (reference ``WikiExtractor.py:429-434``).
* ``<<``/``>>`` are rewritten to the reference's double-encoded
  guillemets ``Â«`` / ``Â»`` (``:436``), and the
  punctuation fixups use the fork's literal-sequence groups — near
  no-ops — not character classes (``:448-449``).

Two steps run as single-pass rewrites of the reference's patterns;
``tests/test_textops_equivalence.py`` fuzzes each against the
reference form and pins the chain's outputs without the reference:

* C5 ``\\[\\w[^\\n ]* ([^\\n\\]]*)\\]`` is the reference's
  ``\\[\\w+.*? (.*?)\\]`` without its backtracking.  ``.`` stops only
  at ``\\n``, so a match at ``[`` exists exactly when ``[\\w`` is
  followed on the same line by a space and then a ``]``; the first
  such space and the first ``]`` after it fix both the span and the
  anchor.  The reference form retries every later space of a line
  with no closing ``]``, quadratic in the line's length.
* C14-C16 (comments, self-closing tags, ignored open and close tags)
  are one alternation scanned once, where the reference runs one
  ``finditer`` per pattern and splices all spans together.  Spans of
  different patterns may overlap and are spliced as the reference
  does, so ``clean_wikitext`` turns ``'a <!-- <b> --> c'`` into
  ``'a --> c'`` and ``'x <b <i>> y'`` into ``'x > y'``.  A pattern
  never overlaps itself (``finditer`` resumes at a match's end), so
  the scan keeps a resume offset per pattern, keyed by the pattern
  that matched: under ``IGNORECASE``, ``ı`` and ``İ`` match ``i``, so
  the matched text does not name it.
"""

from __future__ import annotations

import re
from html.entities import name2codepoint

from wikiextractor_spark.config import (
    DEFAULT_ACCEPTED_NAMESPACES,
    DISCARD_ELEMENTS,
    IGNORED_TAGS,
    PLACEHOLDER_TAGS,
    SELF_CLOSING_TAGS,
)

# --------------------------------------------------------------------------
# Precompiled patterns (compiled once per Python worker at import time —
# the UDF-side analog of Catalyst's per-task regex compilation).
# --------------------------------------------------------------------------

_DISCARD_ELEMENT_RES = [
    re.compile(
        r"<\s*%s\b[^>]*>.*?<\s*/\s*%s>" % (tag, tag), re.DOTALL | re.IGNORECASE
    )
    for tag in DISCARD_ELEMENTS
]


def _tag_span_re(ignored: tuple[str, ...]) -> re.Pattern:
    """C14-C16 as one alternation: a comment, a self-closing tag, an
    ignored open tag or an ignored close tag.  Each tag name is its own
    group, so ``m.lastindex`` names the reference pattern that matched
    (``None`` for a comment)."""
    def names(tags: tuple[str, ...]) -> str:
        return "|".join("(%s)" % t for t in tags)

    return re.compile(
        r"<(?:!--.*?-->|\s*(?:(?:%s)\b[^/]*/\s*>|(?:%s)\b[^>]*>|/\s*(?:%s)>))"
        % (names(SELF_CLOSING_TAGS), names(ignored), names(ignored)),
        re.DOTALL | re.IGNORECASE,
    )


_TAG_SPAN_RE = _tag_span_re(IGNORED_TAGS)
_TAG_SPAN_RE_WITH_A = _tag_span_re(IGNORED_TAGS + ("a",))

_PLACEHOLDER_RES = [
    (
        re.compile(
            r"<\s*%s(\s*| [^>]+?)>.*?<\s*/\s*%s\s*>" % (tag, tag),
            re.DOTALL | re.IGNORECASE,
        ),
        repl,
    )
    for tag, repl in PLACEHOLDER_TAGS
]

_PREFORMATTED_RE = re.compile(r"^ .*?$", re.MULTILINE)
_EXTERNAL_LINK_RE = re.compile(r"\[\w[^\n ]* ([^\n\]]*)\]")
_EXTERNAL_LINK_NO_ANCHOR_RE = re.compile(r"\[\w+[&\]]*\]")
_BOLD_ITALIC_RE = re.compile(r"'''''([^']*?)'''''")
_BOLD_RE = re.compile(r"'''(.*?)'''")
_ITALIC_QUOTE_RE = re.compile(r"''\"(.*?)\"''")
_ITALIC_RE = re.compile(r"''([^']*)''")
_QUOTE_QUOTE_RE = re.compile(r'""(.*?)""')
_SPACES_RE = re.compile(r" {2,}")
_DOTS_RE = re.compile(r"\.{4,}")
_WIKILINK_RE = re.compile(r"\[\[([^[]*?)(?:\|([^[]*?))?\]\](\w*)")
_PARAMETRIZED_LINK_RE = re.compile(r"\[\[.*?\]\]")
_ENTITY_RE = re.compile(r"&#?(\w+);")
_MAGIC_WORDS_RE = re.compile(r"__[A-Z]+__")
_SECTION_RE = re.compile(r"(==+)\s*(.*?)\s*\1")

# The fork's punctuation "fixups": literal character *sequences*, not
# classes (upstream had [...] — this fork lost the brackets), with the
# double-encoded guillemets.  Effectively near no-ops; kept verbatim
# (reference WikiExtractor.py:448-449).
_PUNCT_AFTER_SPACE_RE = re.compile(" (,:\\.\\)\\]Â»)")
_PUNCT_BEFORE_SPACE_RE = re.compile("(\\[\\(Â«) ")
_PUNCT_ONLY_LINE_RE = re.compile(r"\n\W+?\n")

GUILLEMET_OPEN = "Â«"   # the fork's mojibake for «
GUILLEMET_CLOSE = "Â»"  # the fork's mojibake for »


# --------------------------------------------------------------------------
# Nested-delimiter removal (reference WikiExtractor.py:274-327)
# --------------------------------------------------------------------------

def drop_nested(text: str, open_delim: str, close_delim: str) -> str:
    """Remove possibly-nested ``open_delim ... close_delim`` regions.

    Non-regular (nesting), hence a Python kernel rather than
    ``regexp_replace``.  The scan is a faithful re-expression of the
    reference's partition-matcher, including its unbalanced-input
    quirks (reference ``WikiExtractor.py:274-327``): on running out of
    closes while nested, all collected spans collapse into one span
    ending at the last seen close.
    """
    open_re = re.compile(open_delim)
    close_re = re.compile(close_delim)
    spans: list[tuple[int, int]] = []
    depth = 0
    first_open = open_re.search(text, 0)
    if not first_open:
        return text
    cur_open = first_open
    cur_close = close_re.search(text, first_open.end())
    probe = first_open
    while cur_close:
        probe = open_re.search(text, probe.end())
        if not probe:
            # no more opens: consume closes for any pending nesting
            while depth:
                depth -= 1
                deeper = close_re.search(text, cur_close.end())
                if deeper:
                    cur_close = deeper
                else:
                    break
            spans.append((cur_open.start(), cur_close.end()))
            break
        while cur_close.end() < probe.start():
            # pattern "{ } {" — the current region closes before the
            # next open begins
            if depth:
                depth -= 1
                last_end = cur_close.end()
                cur_close = close_re.search(text, cur_close.end())
                if not cur_close:
                    # unbalanced: collapse everything seen so far
                    if spans:
                        collapsed = (spans[0][0], last_end)
                    else:
                        collapsed = (cur_open.start(), last_end)
                    spans = [collapsed]
                    break
            else:
                spans.append((cur_open.start(), cur_close.end()))
                cur_open = probe
                cur_close = close_re.search(text, probe.end())
                break
        if probe != cur_open:
            # pattern "{ { }" — the next open nests inside
            depth += 1
    return drop_spans(spans, text)


def drop_spans(spans: list[tuple[int, int]], text: str) -> str:
    """Splice out ``[start, end)`` spans from ``text`` in one pass
    (reference ``WikiExtractor.py:329-338``)."""
    spans.sort()
    pieces: list[str] = []
    cursor = 0
    for s, e in spans:
        pieces.append(text[cursor:s])
        cursor = e
    pieces.append(text[cursor:])
    return "".join(pieces)


def _tag_spans(text: str, keep_links: bool) -> list[tuple[int, int]]:
    """C14-C16: the spans the reference's per-pattern ``finditer``
    passes find, from one scan (see the module docstring).  A span
    holding a ``<`` may hide another pattern's match, so the scan
    resumes at that ``<``."""
    spans: list[tuple[int, int]] = []
    resume: dict[int | None, int] = {}
    search = (_TAG_SPAN_RE if keep_links else _TAG_SPAN_RE_WITH_A).search
    m = search(text)
    while m:
        start, end = m.span()
        key = m.lastindex
        if start >= resume.get(key, 0):
            spans.append((start, end))
            resume[key] = end
        inner = text.find("<", start + 1, end)
        m = search(text, end if inner < 0 else inner)
    return spans


# --------------------------------------------------------------------------
# Entity unescape (reference WikiExtractor.py:205-220)
# --------------------------------------------------------------------------

def unescape_entities(text: str) -> str:
    """Decode ``&#NNN;`` / ``&#xHH;`` / named entities, leaving
    malformed references as-is — deliberately NOT ``html.unescape``,
    whose malformed-input semantics differ (SURVEY.md §7 hard-item 4).
    """

    def _decode(m: re.Match) -> str:
        whole = m.group(0)
        body = m.group(1)
        try:
            if whole[1] == "#":  # numeric character reference
                if whole[2] == "x":
                    return chr(int(body[1:], 16))
                return chr(int(body))
            return chr(name2codepoint[body])
        except Exception:
            return whole  # leave as is
    return _ENTITY_RE.sub(_decode, text)


# --------------------------------------------------------------------------
# Wikilink expansion (reference WikiExtractor.py:344-366)
# --------------------------------------------------------------------------

def expand_wikilinks(
    text: str,
    accepted_namespaces: frozenset[str] = DEFAULT_ACCEPTED_NAMESPACES,
    keep_links: bool = False,
) -> str:
    """Expand ``[[target|anchor]]trail`` wikilinks.

    Links into a namespace outside ``accepted_namespaces`` are deleted
    entirely (predicate P5); otherwise the anchor (or target) plus any
    word trail is emitted, wrapped in ``<a href>`` only when
    ``keep_links`` (reference ``WikiExtractor.py:352-366``).
    """

    def _anchor(m: re.Match) -> str:
        target = m.group(1)
        colon = target.find(":")
        if colon > 0 and target[:colon] not in accepted_namespaces:
            return ""
        trail = m.group(3)
        anchor = m.group(2)
        if not anchor:
            anchor = target
        anchor += trail
        if keep_links:
            return '<a href="%s">%s</a>' % (target, anchor)
        return anchor

    return _WIKILINK_RE.sub(_anchor, text)


# --------------------------------------------------------------------------
# Fidelity clean (reference WikiExtractor.py:368-456, steps C1-C27)
# --------------------------------------------------------------------------

def clean_wikitext(
    text: str,
    accepted_namespaces: frozenset[str] = DEFAULT_ACCEPTED_NAMESPACES,
    keep_links: bool = False,
) -> str:
    """Full markup-cleaning chain, source order preserved exactly
    (C1-C27 in SURVEY.md §2.4)."""
    # C1/C2: templates and tables (nested, non-regular)
    text = drop_nested(text, r"{{", r"}}")
    text = drop_nested(text, r"{\|", r"\|}")

    # C3/C4: wikilinks, then residual bracket links
    text = expand_wikilinks(text, accepted_namespaces, keep_links)
    text = _PARAMETRIZED_LINK_RE.sub("", text)

    # C5/C6: external links
    text = _EXTERNAL_LINK_RE.sub(r"\1", text)
    text = _EXTERNAL_LINK_NO_ANCHOR_RE.sub("", text)

    # C7-C12: quote markup
    text = _BOLD_ITALIC_RE.sub(r"\1", text)
    text = _BOLD_RE.sub(r"\1", text)
    text = _ITALIC_QUOTE_RE.sub(r"&quot;\1&quot;", text)
    text = _ITALIC_RE.sub(r"&quot;\1&quot;", text)
    text = _QUOTE_QUOTE_RE.sub(r"\1", text)
    text = text.replace("'''", "").replace("''", "&quot;")

    # C13: entity decode, applied twice (so &amp;nbsp; fully decodes)
    text = unescape_entities(text)
    text = unescape_entities(text)

    # C14-C16: comments, self-closing tags, ignored open/close tags
    # ('a' included unless keep_links), cut in one splice
    text = drop_spans(_tag_spans(text, keep_links), text)

    # C17: discard-element content; ONE non-greedy pass per tag, so
    # nested same-tag content partially survives — by design
    for pat in _DISCARD_ELEMENT_RES:
        text = pat.sub("", text)

    # C18: math/code placeholders; finditer snapshots the pre-loop
    # text while replace() mutates the running copy — identical
    # matched strings all receive the first occurrence's index
    for pat, placeholder in _PLACEHOLDER_RES:
        index = 1
        for m in pat.finditer(text):
            text = text.replace(m.group(), "%s_%d" % (placeholder, index))
            index += 1

    # C19: the fork's double-encoded guillemets
    text = text.replace("<<", GUILLEMET_OPEN).replace(">>", GUILLEMET_CLOSE)

    # C20: preformatted lines (must run after the tag drops)
    text = _PREFORMATTED_RE.sub("", text)

    # C21-C27: whitespace/punctuation cleanup
    text = text.replace("\t", " ")
    text = _SPACES_RE.sub(" ", text)
    text = _DOTS_RE.sub("...", text)
    text = _PUNCT_AFTER_SPACE_RE.sub(r"\1", text)
    text = _PUNCT_BEFORE_SPACE_RE.sub(r"\1", text)
    text = _PUNCT_ONLY_LINE_RE.sub("\n", text)
    text = text.replace(",,", ",").replace(",.", ".")
    text = _MAGIC_WORDS_RE.sub("", text)
    return text


# --------------------------------------------------------------------------
# Compact (reference WikiExtractor.py:460-517)
# --------------------------------------------------------------------------

def compact_lines(text: str, structure: bool = False) -> list[str]:
    """Per-document line state machine: section headers, page titles,
    list/table residue, empty-section suppression.

    Sequential *within* a document, embarrassingly parallel *across*
    documents — the canonical ``str -> array<string>`` UDF followed by
    ``posexplode`` (SURVEY.md §2.5).
    """
    out: list[str] = []
    pending_headers: dict[int, str] = {}
    in_empty_section = False

    for line in text.split("\n"):
        if not line:
            continue
        m = _SECTION_RE.match(line)
        if m:
            title = m.group(2)
            level = len(m.group(1))
            if structure:
                out.append("<h%d>%s</h%d>" % (level, title, level))
            if title and title[-1] not in "!?":
                title += "."
            pending_headers[level] = title
            for lev in list(pending_headers.keys()):
                if lev > level:
                    del pending_headers[lev]
            in_empty_section = True
            continue
        if line.startswith("++"):
            title = line[2:-2]
            if title:
                if title[-1] not in "!?":
                    title += "."
                out.append(title)
        elif line[0] in "*#:;":
            if structure:
                out.append("<li>%s</li>" % line[1:])
            else:
                continue
        elif line[0] in "{|" or line[-1] in "}":
            continue
        elif (line[0] == "(" and line[-1] == ")") or line.strip(".-") == "":
            continue
        elif pending_headers:
            for _, header in sorted(pending_headers.items()):
                out.append(header)
            pending_headers.clear()
            out.append(line)
            in_empty_section = False
        elif not in_empty_section:
            out.append(line)

    return out
