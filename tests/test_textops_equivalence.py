"""Reference-free pins on ``textops.clean_wikitext``.

The external-link step (C5) and the comment/tag removals (C14-C16)
run as single-pass rewrites of the reference's patterns.  Here the
reference's own forms are the specification: hypothesis fuzzes each
rewritten step against them, and literal outputs pin the whole chain
on the clean() fixtures and on the overlap edge cases.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from wikiextractor_spark import textops
from wikiextractor_spark.config import IGNORED_TAGS, SELF_CLOSING_TAGS

# --------------------------------------------------------------------------
# Specification: the reference's C5 regex and its C14-C16 passes, one
# finditer per pattern (reference WikiExtractor.py:150-158, :404-426)
# --------------------------------------------------------------------------

SPEC_EXTERNAL_LINK_RE = re.compile(r"\[\w+.*? (.*?)\]")

SPEC_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
SPEC_SELF_CLOSING_RES = [
    re.compile(r"<\s*%s\b[^/]*/\s*>" % tag, re.DOTALL | re.IGNORECASE)
    for tag in SELF_CLOSING_TAGS
]


def _spec_tag_pair(tag: str) -> tuple[re.Pattern, re.Pattern]:
    return (
        re.compile(r"<\s*%s\b[^>]*>" % tag, re.IGNORECASE),
        re.compile(r"<\s*/\s*%s>" % tag, re.IGNORECASE),
    )


SPEC_IGNORED_TAG_RES = [_spec_tag_pair(t) for t in IGNORED_TAGS]
SPEC_IGNORED_TAG_RES_WITH_A = SPEC_IGNORED_TAG_RES + [_spec_tag_pair("a")]


def spec_tag_spans(text: str, keep_links: bool) -> list[tuple[int, int]]:
    spans = [m.span() for m in SPEC_COMMENT_RE.finditer(text)]
    for pat in SPEC_SELF_CLOSING_RES:
        spans.extend(m.span() for m in pat.finditer(text))
    pairs = SPEC_IGNORED_TAG_RES if keep_links else SPEC_IGNORED_TAG_RES_WITH_A
    for left, right in pairs:
        spans.extend(m.span() for m in left.finditer(text))
        spans.extend(m.span() for m in right.finditer(text))
    return spans


# --------------------------------------------------------------------------
# Step fuzz
# --------------------------------------------------------------------------

TOKENS = list("</>!-[]\n ") + list("ıİſK") + [
    "b", "big", "br", "ref", "references", "a", "span",
    "<!--", "-->", "x", "é", "1", "_", ".",
]
markup = st.lists(st.sampled_from(TOKENS), max_size=40).map("".join)
bracket_lines = st.text(alphabet="[] a\nb_é1.K", max_size=30)


@settings(max_examples=1000, deadline=None)
@given(st.one_of(markup, bracket_lines))
def test_external_link_matches_spec(text):
    assert textops._EXTERNAL_LINK_RE.sub(r"\1", text) == SPEC_EXTERNAL_LINK_RE.sub(
        r"\1", text
    )


@pytest.mark.parametrize("keep_links", [False, True])
@settings(max_examples=1000, deadline=None)
@given(text=markup)
def test_tag_spans_match_spec(text, keep_links):
    spans = textops._tag_spans(text, keep_links)
    expected = spec_tag_spans(text, keep_links)
    assert sorted(spans) == sorted(expected)
    assert textops.drop_spans(spans, text) == textops.drop_spans(expected, text)


@pytest.mark.parametrize(
    "text,expected",
    [
        # same-pattern overlap: finditer resumes after the first match
        ("<!--<!-->x-->", [(0, 9)]),
        # the second span is found by div's pattern through ı ~ i
        ("x <dıv <div>> y", [(2, 12)]),
        # different patterns overlap
        ("a <!-- <b> --> c", [(2, 14), (7, 10)]),
        ("x <b <i>> y", [(2, 8), (5, 8)]),
    ],
)
def test_tag_span_overlap_rules(text, expected):
    assert sorted(textops._tag_spans(text, False)) == expected


# --------------------------------------------------------------------------
# Whole-chain pins (outputs captured from the per-pattern implementation)
# --------------------------------------------------------------------------

PINNED_CLEAN = [
    ("plain text with no markup at all", "plain text with no markup at all"),
    ("a {{tmpl}} b", "a b"),
    ("a {{outer {{inner}} still outer}} b", "a b"),
    ("unbalanced {{a}}} tail", "unbalanced } tail"),
    ("unbalanced open {{a {{b}} tail", "unbalanced open tail"),
    ("{{a}} mid {{b}} end", ""),
    ("close only }} weird", "close only }} weird"),
    ("{{}}", ""),
    ("before {| class=x |cell|} after", "before after"),
    ("t {| a {| b |} c |} u", "t u"),
    ("see [[Target]] ok", "see Target ok"),
    ("see [[Target|anchor]] ok", "see anchor ok"),
    ("plural [[dog|dogs]]s trail", "plural dogss trail"),
    ("trail [[cat]]s here", "trail cats here"),
    ("drop [[Category:Birds|birds]] now", "drop now"),
    ("keep [[w:Page|page]] now", "keep page now"),
    ("colon-first [[:weird]] link", "colon-first :weird link"),
    ("residual [[a|b|c]] stays-not", "residual b|c stays-not"),
    ("ext [http://example.com anchor text] done", "ext anchor text done"),
    ("bare [http&] done", "bare done"),
    ("'''''bolditalic''''' mid", "bolditalic mid"),
    ("'''bold''' mid", "bold mid"),
    ("''\"italicquote\"'' mid", '"italicquote" mid'),
    ("''italic'' mid", '"italic" mid'),
    ('""qq"" mid', "qq mid"),
    ("stray ''' triple", "stray triple"),
    ("stray '' double", 'stray " double'),
    ("amp &amp;nbsp; end", "amp \xa0 end"),
    ("num &#65; hex &#x41; bad &bogus; end", "num A hex A bad &bogus; end"),
    ("&#xZZ; malformed hex", "&#xZZ; malformed hex"),
    ("&#999999999999; overflow", "&#999999999999; overflow"),
    ("a <!-- comment --> b", "a b"),
    ("a <!-- multi\nline --> b", "a b"),
    ("a <br/> b <ref name=x/> c <hr /> d", "a b c d"),
    (
        "a <b>bold</b> <div class=x>div</div> </span> <a href=x>link</a> b",
        "a bold div link b",
    ),
    ("a <table>rows</table> b", "a b"),
    ("a <ref>one<ref>two</ref>three</ref> b", "a three</ref> b"),
    ("a <ul><li>x</li></ul> b", "a b"),
    ("m <math>x+y</math> n <math>z</math> o", "m formula_1 n formula_2 o"),
    (
        "c <code>foo</code> d <code>foo</code> e <code>bar</code> f",
        "c codice_1 d codice_1 e codice_3 f",
    ),
    ("mix <math>a</math> and <code>a</code> done", "mix formula_1 and codice_1 done"),
    ("quote <<word>> end", "quote Â«wordÂ» end"),
    ("normal\n preformatted line\nnormal", "normal\n\nnormal"),
    ("tab\there", "tab here"),
    ("multi   spaces", "multi spaces"),
    ("dots..... here", "dots... here"),
    ("seq ,:.)]Â» here", "seq,:.)]Â» here"),
    ("pre [(Â« post", "pre [(Â«post"),
    ("near-miss , comma", "near-miss , comma"),
    ("a\n!!!\nb", "a\nb"),
    ("a\n!!!\n???\nb", "a\n???\nb"),
    ("x,, y,. z", "x, y. z"),
    ("a __NOTOC__ b __TOC__ c", "a  b  c"),
    ("== Section ==\nbody", "== Section ==\nbody"),
    (
        "text with {{tmpl}} and [[link]] and '''bold''' and &amp; and <b>tag</b> together",
        "text with and link and bold and & and tag together",
    ),
    # overlap edge cases of C14-C16, and C5 beside C3/C6
    ("a <!-- <b> --> c", "a --> c"),
    ("x <b <i>> y", "x > y"),
    ("x <b <b>> y", "x > y"),
    ("x <dıv <div>> y", "x > y"),
    ("<!--<!-->x-->", "x-->"),
    (
        "[[x]] [http://e.org a b] [12] tail [w no close",
        "x a b tail [w no close",
    ),
    ("[a\nb c] [d e\nf] [g h]", "[a\nb c] [d e\nf] h"),
]

# keep_links=True outputs, where they differ from the default's
PINNED_CLEAN_KEEP_LINKS = [
    ("see [[Target]] ok", 'see <a href="Target">Target</a> ok'),
    ("plural [[dog|dogs]]s trail", 'plural <a href="dog">dogss</a> trail'),
    ("residual [[a|b|c]] stays-not", 'residual <a href="a">b|c</a> stays-not'),
    (
        "a <b>bold</b> <div class=x>div</div> </span> <a href=x>link</a> b",
        "a bold div <a href=x>link</a> b",
    ),
    (
        "[[x]] [http://e.org a b] [12] tail [w no close",
        '<a href="x">x</a> a b tail [w no close',
    ),
]


@pytest.mark.parametrize("text,expected", PINNED_CLEAN)
def test_clean_pinned(text, expected):
    assert textops.clean_wikitext(text) == expected


@pytest.mark.parametrize("text,expected", PINNED_CLEAN_KEEP_LINKS)
def test_clean_pinned_keep_links(text, expected):
    assert textops.clean_wikitext(text, keep_links=True) == expected
