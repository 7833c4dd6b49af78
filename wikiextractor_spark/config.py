"""Engine configuration.

Mirrors the reference's module globals (reference
``WikiExtractor.py:70-100, 700-713``) as an explicit, immutable
config object instead of mutable module state.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Namespaces whose pages are kept by the title filter and whose
# wikilinks survive link expansion (reference WikiExtractor.py:89).
DEFAULT_ACCEPTED_NAMESPACES = frozenset({"w"})

# Block elements whose entire content is dropped
# (reference WikiExtractor.py:94-100).
DISCARD_ELEMENTS = (
    "gallery", "timeline", "noinclude", "pre",
    "table", "tr", "td", "th", "caption",
    "form", "input", "select", "option", "textarea",
    "ul", "li", "ol", "dl", "dt", "dd", "menu", "dir",
    "ref", "references", "img", "imagemap", "source",
)

# Tags stripped (open+close) but whose content is kept
# (reference WikiExtractor.py:153-158).  'a' is appended at runtime
# when links are not kept (reference WikiExtractor.py:712-713).
IGNORED_TAGS = (
    "b", "big", "blockquote", "center", "cite", "div", "em",
    "font", "h1", "h2", "h3", "h4", "hiero", "i", "kbd", "nowiki",
    "p", "plaintext", "s", "small", "span", "strike", "strong",
    "sub", "sup", "tt", "u", "var",
)

# Self-closing tags dropped outright (reference WikiExtractor.py:150).
SELF_CLOSING_TAGS = ("br", "hr", "nobr", "ref", "references")

# Elements replaced by enumerated placeholders
# (reference WikiExtractor.py:160); insertion order is semantic.
PLACEHOLDER_TAGS = (("math", "formula"), ("code", "codice"))


@dataclass(frozen=True)
class ExtractorConfig:
    """Runtime knobs of the extraction pipeline.

    ``keep_links=False`` is the reference's effective production
    config (its CLI never sets keepLinks, so ``ignoreTag('a')`` always
    runs — reference WikiExtractor.py:78, 712-713).
    """

    keep_links: bool = False
    keep_sections: bool = False  # `structure` flag of compact()
    accepted_namespaces: frozenset[str] = DEFAULT_ACCEPTED_NAMESPACES
    incubator: str = ""  # incubator language code, '' = disabled
    compress: bool = False
