"""Speed-mode markup cleaning as native Catalyst expressions.

The regular-expression subset of the reference's ``clean()`` chain
(steps C4-C12, C14-C17, C19-C27 of SURVEY.md §2.4 — everything except
the non-regular C1-C3, the entity table C13, and the stateful C18)
expressed **once** as a step table that compiles to both:

* a Spark ``Column`` chain (``clean_markup_native``) — stays inside
  whole-stage codegen, no Python round-trip, the 100 TB hot path;
* a DuckDB SQL expression (``clean_markup_duckdb_sql``) — the oracle
  the driver compares against.

Keeping one definition guarantees the two sides can't drift.  Every
pattern uses only syntax with identical semantics in Java regex
(Spark) and RE2 (DuckDB): inline ``(?is)`` flags, lazy quantifiers,
ASCII ``\\w``/``\\W``, ``\\b``, character classes.  No backreferences
(RE2 has none).  The external-link step keeps the reference's
backtracking ``\\[\\w+.*? (.*?)\\]`` rather than ``textops``' linear
form, because that form's equivalence rests on Python's ``.`` and
Unicode ``\\w``: Java's ``.`` also stops at ``\\r``, ``\\u0085``,
``\\u2028`` and ``\\u2029``, and this table's ``\\w`` is ASCII.

Fidelity note: the reference batch-collects comment/tag spans over one
snapshot then splices (``WikiExtractor.py:402-422``); this chain
applies the same patterns sequentially.  Outputs differ only when
removing one span *creates* a new tag match (pathological inputs);
``tests/test_native_chain.py`` pins equivalence on realistic text.
"""

from __future__ import annotations

from dataclasses import dataclass

from wikiextractor_spark.config import (
    DISCARD_ELEMENTS,
    IGNORED_TAGS,
    SELF_CLOSING_TAGS,
)
from wikiextractor_spark.textops import GUILLEMET_CLOSE, GUILLEMET_OPEN


@dataclass(frozen=True)
class RegexStep:
    name: str
    pattern: str        # shared Java/RE2 pattern
    replacement: str    # with \1-style group refs (translated per engine)


@dataclass(frozen=True)
class LiteralStep:
    name: str
    find: str
    replacement: str


def _alternation(tags: tuple[str, ...]) -> str:
    return "|".join(tags)


_IGNORED_WITH_A = IGNORED_TAGS + ("a",)

NATIVE_STEPS: tuple[object, ...] = (
    # C4: residual [[...]] links
    RegexStep("residual_links", r"\[\[.*?\]\]", ""),
    # C5/C6: external links
    RegexStep("external_link", r"\[\w+.*? (.*?)\]", "\\1"),
    RegexStep("external_link_no_anchor", r"\[\w+[&\]]*\]", ""),
    # C7-C11: quote markup
    RegexStep("bold_italic", r"'''''([^']*?)'''''", "\\1"),
    RegexStep("bold", r"'''(.*?)'''", "\\1"),
    RegexStep("italic_quote", "''\"(.*?)\"''", "&quot;\\1&quot;"),
    RegexStep("italic", r"''([^']*)''", "&quot;\\1&quot;"),
    RegexStep("quote_quote", '""(.*?)""', "\\1"),
    # C12: stray quote runs
    LiteralStep("stray_bold", "'''", ""),
    LiteralStep("stray_italic", "''", "&quot;"),
    # C14: HTML comments
    RegexStep("comments", r"(?s)<!--.*?-->", ""),
    # C15: self-closing tags
    RegexStep(
        "self_closing_tags",
        r"(?is)<\s*(?:%s)\b[^/]*/\s*>" % _alternation(SELF_CLOSING_TAGS),
        "",
    ),
    # C16: ignored formatting tags, open then close ('a' included —
    # engine default keep_links=False, reference WikiExtractor.py:712)
    RegexStep(
        "ignored_tags_open",
        r"(?i)<\s*(?:%s)\b[^>]*>" % _alternation(_IGNORED_WITH_A),
        "",
    ),
    RegexStep(
        "ignored_tags_close",
        r"(?i)<\s*/\s*(?:%s)>" % _alternation(_IGNORED_WITH_A),
        "",
    ),
)

# C17: discard-element content — ONE sequential non-greedy pass per
# tag, in the reference's set-iteration-independent source order
# (nested same-tag content partially survives; semantics pinned by
# differential tests).
NATIVE_STEPS = NATIVE_STEPS + tuple(
    RegexStep(
        "discard_%s" % tag,
        r"(?is)<\s*%s\b[^>]*>.*?<\s*/\s*%s>" % (tag, tag),
        "",
    )
    for tag in DISCARD_ELEMENTS
) + (
    # C19: the fork's double-encoded guillemets
    LiteralStep("guillemet_open", "<<", GUILLEMET_OPEN),
    LiteralStep("guillemet_close", ">>", GUILLEMET_CLOSE),
    # C20: preformatted lines
    RegexStep("preformatted", r"(?m)^ .*?$", ""),
    # C21-C23: whitespace/dots
    LiteralStep("tabs", "\t", " "),
    RegexStep("spaces", r" {2,}", " "),
    RegexStep("dots", r"\.{4,}", "..."),
    # C24: the fork's literal-sequence punctuation fixups (near no-ops
    # — groups are literal sequences, not classes; kept verbatim)
    RegexStep("punct_after_space", " (,:\\.\\)\\]%s)" % GUILLEMET_CLOSE, "\\1"),
    RegexStep("punct_before_space", "(\\[\\(%s) " % GUILLEMET_OPEN, "\\1"),
    # C25: punctuation-only lines (single pass)
    RegexStep("punct_only_lines", r"\n\W+?\n", "\n"),
    # C26: comma fixups
    LiteralStep("double_comma", ",,", ","),
    LiteralStep("comma_dot", ",.", "."),
    # C27: MediaWiki magic words
    RegexStep("magic_words", r"__[A-Z]+__", ""),
)


# --------------------------------------------------------------------------
# Spark side
# --------------------------------------------------------------------------

def clean_markup_native(col):
    """Compile the step table to a Spark Column chain (JVM-side,
    whole-stage-codegen friendly)."""
    from pyspark.sql import functions as F

    out = col
    for step in NATIVE_STEPS:
        if isinstance(step, RegexStep):
            out = F.regexp_replace(out, step.pattern, _spark_replacement(step.replacement))
        else:
            out = F.replace(out, F.lit(step.find), F.lit(step.replacement))
    return out


def _spark_replacement(repl: str) -> str:
    """Translate ``\\1`` group refs to Spark's ``$1``, escaping
    literal ``$``."""
    return repl.replace("$", "\\$").replace("\\1", "$1")


# --------------------------------------------------------------------------
# DuckDB side (oracle)
# --------------------------------------------------------------------------

def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def clean_markup_duckdb_sql(expr: str) -> str:
    """Compile the step table to a nested DuckDB SQL expression over
    ``expr`` — the driver-oracle twin of ``clean_markup_native``."""
    out = expr
    for step in NATIVE_STEPS:
        if isinstance(step, RegexStep):
            out = "regexp_replace(%s, %s, %s, 'g')" % (
                out,
                _sql_str(step.pattern),
                _sql_str(step.replacement),
            )
        else:
            out = "replace(%s, %s, %s)" % (
                out,
                _sql_str(step.find),
                _sql_str(step.replacement),
            )
    return out


def clean_markup_python(text: str) -> str:
    """Python twin of the native chain (same step subset) — used by
    tests to pin the Java-regex translation.

    Compiled with ``re.ASCII``: Java and RE2 use ASCII ``\\w``/``\\W``
    by default, while Python defaults to Unicode.  The difference is
    observable — C19 itself injects non-ASCII guillemets which C25's
    ``\\n\\W+?\\n`` then treats differently per engine (found by
    fuzzing).  The *fidelity* kernel (textops.clean_wikitext) keeps
    Python/Unicode semantics, faithfully matching the reference."""
    import re

    out = text
    for step in NATIVE_STEPS:
        if isinstance(step, RegexStep):
            out = re.sub(
                step.pattern,
                step.replacement.replace("\\1", "\\g<1>"),
                out,
                flags=re.ASCII,
            )
        else:
            out = out.replace(step.find, step.replacement)
    return out
