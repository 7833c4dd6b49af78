"""Seeded input generators: a synthetic MediaWiki dump and a synthetic
``documents`` table.  The same seed writes the same bytes.

Text comes from a Zipf-distributed synthetic vocabulary rather than
repeated sample documents, so a dump compresses about as well as a real
one (roughly 4:1 under bz2) instead of 20:1.  The dump markup exercises
every ``clean()`` rule; the documents table plants exact and near-copy
clusters and records their membership for the output checks.
"""

from __future__ import annotations

import bz2
import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np

STOPWORDS = {
    "en": ("the", "of", "and", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "nicht"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"),
}
_SYLLABLES = (
    "ka", "to", "ri", "mu", "sen", "lo", "vor", "ex", "pi", "dan", "ul",
    "ber", "sta", "ni", "go", "rel", "qua", "tem", "fi", "do", "an", "ost",
    "ye", "mar", "lin", "che", "wo", "zu", "bra", "im", "kev", "orn",
)
ZIPF_EXPONENT = 0.95


def _vocabulary() -> list[str]:
    """Synthetic words, identical for every seed (the seed picks the
    text, not the language).  No word collides with a stopword."""
    rng = np.random.default_rng(20240601)
    stop = {w for ws in STOPWORDS.values() for w in ws}
    draws = (
        "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        for n in rng.integers(1, 5, 60_000)
    )
    return [w for w in dict.fromkeys(draws) if w not in stop]


class ZipfWords:
    """Draws word sequences from the vocabulary with Zipf frequencies."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.words = _vocabulary()
        ranks = np.arange(1, len(self.words) + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_EXPONENT)
        self._cdf = cdf / cdf[-1]

    def draw(self, n: int) -> list[str]:
        idx = np.searchsorted(self._cdf, self.rng.random(n))
        return list(map(self.words.__getitem__, idx.tolist()))


# --------------------------------------------------------------------------
# MediaWiki dump
# --------------------------------------------------------------------------

DUMP_BASE = "https://xx.synthpedia.org/wiki/Main_Page"
REJECTED_NAMESPACES = ("Talk", "User", "Template", "Category", "File", "Wikipedia")
ACCEPTED_NAMESPACE = "w"

_HEADER = (
    '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
    'version="0.10" xml:lang="en">\n'
    "  <siteinfo>\n"
    "    <sitename>Synthpedia</sitename>\n"
    "    <dbname>xxwiki</dbname>\n"
    f"    <base>{DUMP_BASE}</base>\n"
    "    <generator>MediaWiki 1.41.0</generator>\n"
    "    <case>first-letter</case>\n"
    "  </siteinfo>\n"
)
_FOOTER = "</mediawiki>\n"


# page shape: log-normal wikitext length with a tail past 100 KB
MEDIAN_PAGE_BYTES = 2500
PAGE_SIGMA = 1.3  # ~0.2% of pages pass 100 KB
MAX_PAGE_BYTES = 300_000
REDIRECT_SHARE = 0.08
REJECTED_NS_SHARE = 0.07
ACCEPTED_NS_SHARE = 0.02


@dataclass
class DumpSpec:
    """Size and layout of a generated dump."""

    target_mb: float
    parts: int = 1
    bz2: bool = False


@dataclass
class DumpManifest:
    files: list[str]
    pages: int = 0
    articles: int = 0  # pages the extractor's filters keep
    redirects: int = 0
    rejected_namespace: int = 0
    xml_bytes: int = 0  # uncompressed
    file_bytes: int = 0  # on disk
    pages_over_100kb: int = 0
    part_pages: list[int] = field(default_factory=list)


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# Inline decorations (str.format templates: {w} the decorated word,
# {x} another word of the page, {n} a small number).
_INLINE = (
    "[[{w}]]",
    "[[{x}|{w}]]s",
    "[[Category:{x}]] {w}",
    "[[" + ACCEPTED_NAMESPACE + ":{x}|{w}]]",
    "[[File:{x}.jpg|thumb|[[{w}]] {x}]]",
    "[http://www.{x}.org/{w} {w} {x}]",
    "{w}[{n}]",
    "'''''{w}'''''",
    "'''{w}'''",
    "''\"{w}\"''",
    "''{w}''",
    '""{w}""',
    "{w}&nbsp;{x}",
    "{w} &amp; {x}",
    "{w}&#8212;{x}&#x2013;",
    "{w}&bogus;",
    "{w}<!-- {x} -->",
    "{w}<br/>",
    "<b>{w}</b>",
    '<span class="{x}">{w}</span>',
    '<a href="{x}">{w}</a>',
    "{w}<ref>{x} {w}</ref>",
    '{w}<ref name="{x}"/>',
    "<math>{w}^{n}</math>",
    "<code>{w}()</code>",
    "<<{w}>>",
    "{w}....",
    "{w},,",
    "{{{{lang|{x}|{w}}}}}",
    "{w}\t {x}",
)
# Structure lines between paragraphs (same placeholders).
_BLOCKS = (
    "* {w} {x}\n* [[{x}]] {w}",
    "# {w}\n# {x}",
    ": {w} {x}\n; {x}",
    '{{| class="wikitable"\n|-\n! {w} !! {x}\n|-\n| {x} || {w}\n|}}',
    " {w} preformatted {x}",
    "++{w} {x}++",
    "({w} {x})",
    "{w} {x} }}",
    "----",
    "<gallery>\nFile:{w}.jpg|{x}\n</gallery>",
    "<pre>{w}\n{x}</pre>",
    "__NOTOC__",
)
INLINE_SHARE = 0.22


class _WikiText:
    """Builds one page of wikitext whose markup fires every clean() and
    compact() rule (templates, tables, links, quotes, entities, tags,
    placeholders, sections, lists, preformatted lines...)."""

    def __init__(self, words: ZipfWords, rnd: random.Random):
        self.words = words
        self.rng = words.rng
        self.rnd = rnd

    def page(self, title: str, n_words: int) -> str:
        rng, rnd = self.rng, self.rnd
        ws = self.words.draw(n_words)
        pool = ws[:64]
        n = len(ws)
        dec = np.flatnonzero(rng.random(n) < INLINE_SHARE).tolist()
        kinds = rng.integers(0, len(_INLINE), len(dec)).tolist()
        others = rng.integers(0, len(pool), len(dec)).tolist()
        for i, k, o in zip(dec, kinds, others):
            ws[i] = _INLINE[k].format(w=ws[i], x=pool[o], n=o + 1)
        # sentences of 6-18 words: capitalised start, full stop at the end
        ends = np.cumsum(rng.integers(6, 19, n // 6 + 2))
        for e in ends[ends < n].tolist():
            ws[e - 1] += "."
            ws[e] = ws[e][:1].upper() + ws[e][1:]
        ws[0] = ws[0][:1].upper() + ws[0][1:]
        ws[-1] += "."
        lead_n = min(n, rnd.randint(20, 60))
        parts = [
            "{{Infobox %s|name=%s|born={{birth date|19%d|1|1}}}}"
            % (pool[0], title, rnd.randrange(10, 99)),
            f"'''{title}''' is " + " ".join(ws[:lead_n]),
        ]
        i, level = lead_n, 2
        while i < n:
            step = rnd.randint(40, 220)
            bar = "=" * level
            parts.append(f"{bar} {rnd.choice(pool).capitalize()} {bar}")
            if rnd.random() < 0.1:  # an empty section
                parts.append(f"{bar} {rnd.choice(pool).capitalize()} {bar}")
            parts.append(" ".join(ws[i:i + step]))
            if rnd.random() < 0.6:
                parts.append(
                    rnd.choice(_BLOCKS).format(w=rnd.choice(pool), x=rnd.choice(pool))
                )
            level = 3 if level == 2 and rnd.random() < 0.3 else 2
            i += step
        parts.append(f"[[Category:{rnd.choice(pool).capitalize()}]]")
        return "\n".join(parts)


def _page_xml(title: str, pid: int, text: str, redirect: str | None) -> str:
    red = f'    <redirect title="{redirect}" />\n' if redirect else ""
    body = _xml_escape(text)
    return (
        "  <page>\n"
        f"    <title>{title}</title>\n"
        "    <ns>0</ns>\n"
        f"    <id>{pid}</id>\n"
        f"{red}"
        "    <revision>\n"
        f"      <id>{pid * 7 + 100000}</id>\n"
        "      <timestamp>2024-01-01T00:00:00Z</timestamp>\n"
        "      <contributor><username>Synth</username><id>1</id></contributor>\n"
        f'      <text bytes="{len(text.encode())}" xml:space="preserve">{body}</text>\n'
        "    </revision>\n"
        "  </page>\n"
    )


def generate_dump(out_dir: str, seed: int, spec: DumpSpec) -> DumpManifest:
    """Write a dump of about ``spec.target_mb`` MB of XML into
    ``out_dir`` as ``spec.parts`` files (``part-NN.xml[.bz2]``), each
    with the siteinfo header, pages split at page boundaries."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rnd = random.Random(seed)
    words = ZipfWords(rng)
    wiki = _WikiText(words, rnd)
    target = int(spec.target_mb * 1e6)
    per_part = target / spec.parts
    ext = ".xml.bz2" if spec.bz2 else ".xml"
    names = [os.path.join(out_dir, f"part-{i:02d}{ext}") for i in range(spec.parts)]
    man = DumpManifest(files=names)

    def open_part(path):
        if spec.bz2:
            return bz2.open(path, "wt", encoding="utf-8", compresslevel=9)
        return open(path, "w", encoding="utf-8")

    pid = 0
    for path in names:
        written, n_part = 0, 0
        with open_part(path) as f:
            f.write(_HEADER)
            while written < per_part:
                pid += 1
                head = words.draw(2)
                title = f"{head[0].capitalize()} {head[1]} {pid}"
                r = rnd.random()
                redirect = None
                if r < REDIRECT_SHARE:
                    redirect = f"{words.draw(1)[0].capitalize()} {pid + 1}"
                    text = f"#REDIRECT [[{redirect}]]"
                    man.redirects += 1
                else:
                    r -= REDIRECT_SHARE
                    if r < REJECTED_NS_SHARE:
                        title = f"{rnd.choice(REJECTED_NAMESPACES)}:{title}"
                        man.rejected_namespace += 1
                    else:
                        man.articles += 1
                        if r < REJECTED_NS_SHARE + ACCEPTED_NS_SHARE:
                            title = f"{ACCEPTED_NAMESPACE}:{title}"
                    size = min(
                        MAX_PAGE_BYTES, int(rng.lognormal(np.log(MEDIAN_PAGE_BYTES), PAGE_SIGMA))
                    )
                    text = wiki.page(title, max(12, size // 9))
                    if len(text) > 100_000:
                        man.pages_over_100kb += 1
                xml = _page_xml(title, pid, text, redirect)
                f.write(xml)
                written += len(xml)
                n_part += 1
            f.write(_FOOTER)
        man.xml_bytes += written + len(_HEADER) + len(_FOOTER)
        man.part_pages.append(n_part)
    man.pages = pid
    man.file_bytes = sum(os.path.getsize(p) for p in names)
    return man


# --------------------------------------------------------------------------
# Documents table
# --------------------------------------------------------------------------

EN_SHARE = 0.7
LOW_QUALITY_SHARE = 0.05  # English-looking, no stopwords, noisy
CLUSTER_SHARE = 0.08  # share of good English docs that seed a cluster
MAX_COPIES = 4
MEDIAN_WORDS = 180
STOPWORD_RATE = 0.3


@dataclass
class DocsTruth:
    """Ground truth the checks compare against (the program never sees it)."""

    path: str
    n_rows: int = 0
    text_bytes: int = 0  # uncompressed UTF-8 bytes of all texts
    lang: dict[int, str] = field(default_factory=dict)
    low_quality: list[int] = field(default_factory=list)
    clusters: list[list[int]] = field(default_factory=list)  # exact + near copies
    words: dict[int, int] = field(default_factory=dict)  # whitespace token count

    def expected_survivors(self) -> set[int]:
        """English, good quality, and at most the smallest id of each
        planted cluster."""
        dropped = set(self.low_quality)
        for c in self.clusters:
            dropped.update(sorted(c)[1:])
        return {
            i for i, lang in self.lang.items() if lang == "en" and i not in dropped
        }


def _doc_text(
    words: ZipfWords, rnd: random.Random, n: int, stop: tuple[str, ...], rate: float,
) -> str:
    ws = words.draw(n)
    for i in range(n):
        if rnd.random() < rate:
            ws[i] = rnd.choice(stop)
    out, i = [], 0
    while i < n:
        k = rnd.randint(6, 16)
        sent = ws[i:i + k]
        sent[0] = sent[0].capitalize()
        sent[-1] += "."
        out.extend(sent)
        i += k
    return " ".join(out)


def _noisy_text(words: ZipfWords, rnd: random.Random, n: int) -> str:
    ws = words.draw(n)
    noise = ("|||", "###", "@@", "--", "%%", "~~", "**", "[[]]")
    return " ".join(rnd.choice(noise) if rnd.random() < 0.4 else w for w in ws)


# Banded MinHash as the engine documents it (md5-derived shingle hash,
# affine family mod 2^31-1, 8 hashes in 4 bands of 2) -- a fixed copy,
# so the generated inputs never depend on the program under test.
_MH_P = 2_147_483_647
_MH_COEFFS = [
    ((2654435761 * (j + 1)) % _MH_P, (40503 * (j + 1) + 12345) % _MH_P) for j in range(8)
]


def lsh_bands(text: str) -> list[tuple[int, int]]:
    ws = text.split(" ")
    shingles = (
        [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)] if len(ws) >= 3 else [text]
    )
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % _MH_P for s in shingles]
    sig = [min((a * h + b) % _MH_P for h in hs) for a, b in _MH_COEFFS]
    return [(sig[i], sig[i + 1]) for i in range(0, 8, 2)]


def _near_copy(text: str, words: ZipfWords) -> str:
    """``text`` with one token replaced, the last one if possible.  A
    copy that would share no LSH band with the original is redrawn (and
    after three draws the next token from the end is tried): a planted
    near-duplicate must be one banded MinHash can find, or the
    one-survivor check would test luck rather than the pipeline."""
    ws = text.split(" ")
    bands = lsh_bands(text)
    for attempt in range(3 * len(ws)):
        pos = len(ws) - 1 - attempt // 3
        new = words.draw(1)[0] + ("." if ws[pos].endswith(".") else "")
        if new == ws[pos]:
            continue
        copy = " ".join(ws[:pos] + [new] + ws[pos + 1:])
        if any(a == b for a, b in zip(bands, lsh_bands(copy))):
            return copy
    return text


def generate_docs(out_path: str, seed: int, n_docs: int) -> DocsTruth:
    """Write ``out_path`` (one parquet file of about ``n_docs`` rows:
    ``doc_id bigint, text string``) and return the planted ground truth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    rnd = random.Random(seed)
    words = ZipfWords(rng)
    rows: list[tuple[str, str, int]] = []  # (text, lang, cluster or -1)
    langs = ("de", "es", "fr")
    n_clusters = 0
    cluster_rows: list[list[int]] = []
    while len(rows) < n_docs:
        n = int(min(900, max(60, rng.lognormal(np.log(MEDIAN_WORDS), 0.5))))
        r = rnd.random()
        if r < LOW_QUALITY_SHARE:
            rows.append((_noisy_text(words, rnd, n), "en-low", -1))
            continue
        lang = "en" if r < EN_SHARE else rnd.choice(langs)
        text = _doc_text(words, rnd, n, STOPWORDS[lang], STOPWORD_RATE)
        if lang == "en" and rnd.random() < CLUSTER_SHARE:
            members = [len(rows)]
            rows.append((text, lang, n_clusters))
            for _ in range(rnd.randint(1, MAX_COPIES)):
                if rnd.random() < 0.5:
                    copy = text
                else:
                    copy = _near_copy(text, words)
                members.append(len(rows))
                rows.append((copy, lang, n_clusters))
            cluster_rows.append(members)
            n_clusters += 1
        else:
            rows.append((text, lang, -1))
    # ids are a seeded permutation, so a cluster's original is not
    # always its smallest id; row order is shuffled independently
    ids = (rng.permutation(len(rows)) + 1).astype(np.int64)
    order = rng.permutation(len(rows))
    truth = DocsTruth(path=out_path, n_rows=len(rows))
    for i, (text, lang, _c) in enumerate(rows):
        did = int(ids[i])
        if lang == "en-low":
            truth.lang[did] = "en"
            truth.low_quality.append(did)
        else:
            truth.lang[did] = lang
        truth.words[did] = len(text.split(" "))
        truth.text_bytes += len(text.encode("utf-8"))
    truth.clusters = [[int(ids[m]) for m in members] for members in cluster_rows]
    table = pa.table(
        {
            "doc_id": pa.array([int(ids[i]) for i in order], pa.int64()),
            "text": pa.array([rows[i][0] for i in order], pa.string()),
        }
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pq.write_table(table, out_path)
    return truth
