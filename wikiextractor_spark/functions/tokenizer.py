"""Imported-tokenizer token counting: bring-your-own BPE/wordpiece
vocabulary, count tokens with it, and feed the counts to the packing
and token-budget operators.

The engine's default token counts are whitespace/regex-grain
(:mod:`textstats`) — fine for quality gates, but a TRAINING pipeline
packs sequences against a real tokenizer's token budget: a 2048-token
pack measured in whitespace words overflows the model's context
window the moment the corpus contains long words the tokenizer
splits.  This module imports the vocabulary as a model artifact
through the shared :mod:`modelio` loader contract (same validation
and error surface as the LM and classifier adapters) and counts with
GREEDY LONGEST-MATCH segmentation — the WordPiece serving algorithm,
and the standard fast approximation for counting under a merges-based
BPE (exact merge replay needs the merge ranks per pair; longest-match
over the final vocab agrees on the overwhelming majority of words and
never under-segments a vocab hit).

Artifact shape: ``(token string, token_id double)`` rows plus ONE
NULL-token row carrying ``oov_tokens_per_char`` — the per-character
cost charged when no vocab token matches at a position (1.0 for
char-fallback tokenizers; ~0.25-0.5 for byte-fallback BPEs where a
char is a few bytes ≈ a few tokens).  A TSV artifact cannot express
the NULL row — pass ``oov_tokens_per_char=`` instead (exactly one of
the two, enforced by :func:`modelio.load_keyed_table`).

Tokens must be whitespace-free: counting whitespace-splits the text
first (the universal pre-tokenization grain), so a vocab entry
containing whitespace could never match and its presence is almost
certainly an artifact bug — the loader raises.

Scale shape: the vocabulary is driver-sized by construction (50k-ish
entries), shipped once per executor as a broadcast; the counter is an
Arrow-batched pandas UDF over the text column — a MODEL-ADAPTER
kernel like the WET source kernel, outside the SURVEY §2.11
cleaning-UDF budget (which stays exactly the five in ``udfs.py``).
The kernel constant (r11): matching probes only the per-first-char
DISTINCT token lengths (:func:`_build_matcher`) instead of every
length down from the global max, and each batch memoizes per-WORD
counts — Zipfian word frequency makes the memo hit rate the dominant
win (10-50× on natural text), with bit-identical counts pinned by
the differential test against the naive loop.
The counts column then feeds :func:`~wikiextractor_spark.operators.
packing.pack_sequences` / :func:`~wikiextractor_spark.operators.
sampling.cap_group_tokens` via their ``token_col`` parameter — the
pack/cap plans are unchanged, only the measure is.
"""

from __future__ import annotations

import re
import unicodedata
from contextlib import contextmanager
from functools import lru_cache, partial

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from wikiextractor_spark.functions.modelio import release_local_checkpoint

VOCAB_SCHEMA = "token string, token_id double"

# per-batch word-memo bound (see bpe_token_count): at ~100 bytes per
# entry this caps the cache at ~26 MB per concurrently-running batch
_WORD_CACHE_MAX = 1 << 18

# Pre-tokenization grain, pinned to the EXPLICIT ASCII whitespace
# class rather than str.split()'s Unicode-whitespace rule: the class
# is restatable verbatim in any regex engine (the battery oracle
# re-splits with the same pattern in DuckDB/RE2), while Python's
# Unicode rule (NBSP, ideographic space, \x1c-\x1f...) has no
# portable regex equivalent — a corpus NBSP would silently diverge
# the count from any restatement.
WS_SPLIT_PATTERN = "[ \\t\\n\\r\\f\\v]+"
_WS_SPLIT = re.compile(WS_SPLIT_PATTERN)

# The SAME class with the control characters spliced as LITERALS, for
# Java-regex consumers (F.split): Java's \v escape inside a class is
# the vertical-whitespace CLASS [\n\x0B\f\r\x85  ], not the
# VT character Python/RE2 mean — passing the escape form to the JVM
# would silently widen the split grain (U+2028 in web text would
# split in the trainer but not in the serving kernels or the oracle).
# Literal controls mean every engine sees the same six characters.
WS_SPLIT_PATTERN_JVM = "[ \t\n\r\f\x0b]+"

# GPT-2-style pre-tokenization (r12): the published GPT-2 pattern
#   's|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+
#   |\s+(?!\S)|\s+
# restated for Python's re module, which has no \p{...} classes:
# \p{L} → [^\W\d_] (word chars minus decimal digits minus the
# underscore), \p{N} → \d, and [^\s\p{L}\p{N}] → (?:[^\s\w]|_).  On
# ASCII the restatement is EXACT; the stated divergence is at Unicode
# category edges (letter-numbers like Ⅻ and other non-decimal \p{N}
# characters classify as "letter" here where GPT-2's regex classes
# them "number" — same split positions against adjacent whitespace/
# punctuation, different grouping against adjacent letters).  The
# lookahead branch \s+(?!\S) is what gives GPT-2 its signature
# whitespace grouping: a run of whitespace BEFORE a word yields the
# run minus its last char (which prefixes the word's pre-token), a
# trailing run is kept whole.
GPT2_PRETOKENIZER_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+"
    r"|\s+(?!\S)|\s+"
)


@lru_cache(maxsize=None)
def _is_hf_word_char(ch: str) -> bool:
    """The library's regex ``\\w`` class (Rust ``regex``:
    Alphabetic + ``\\p{M}`` + Nd + Pc + Join_Control) — NOT Python
    ``re``'s ``\\w``, which drops combining marks (an NFC Devanagari
    matra or NFD accent would break out of its word) and admits No
    characters like ``½`` (r16 review: the class difference silently
    changed Whitespace-grain token streams on marked text).
    Alphabetic = L* + Nl + Other_Alphabetic; stdlib exposes no
    property tables, so Other_Alphabetic is covered by the M*
    inclusion (its combining-mark mass) plus the circled-letter
    block U+24B6-U+24E9 (its one gc=So range; second review pass) —
    any residual exotic member is the stated Unicode-edges caveat.
    Memoized per character (kernel hot path)."""
    if ch.isalpha():  # L* ⊂ Alphabetic
        return True
    cat = unicodedata.category(ch)
    # Nl is Alphabetic; M*/Nd/Pc are the \w extras; U+200C/U+200D
    # are Join_Control; U+24B6-U+24E9 are Other_Alphabetic (So)
    return (
        cat in ("Mn", "Mc", "Me", "Nd", "Pc", "Nl")
        or ch in "‌‍"
        or "Ⓐ" <= ch <= "ⓩ"
    )


def _is_hf_space(ch: str) -> bool:
    """The library's ``\\s`` = ``\\p{White_Space}`` — Python's
    ``str.isspace`` minus the \\x1c-\\x1f file separators it alone
    admits."""
    return ch.isspace() and not ("\x1c" <= ch <= "\x1f")


def _split_runs(t: str, classify, drop=None,
                isolate: bool = False) -> list[str]:
    """ONE run-grouping loop for the published pre-tokenizer
    splitters (second review pass — four copies would drift):
    maximal runs of equal ``classify(ch)`` value; ``drop`` chars
    terminate the current run and vanish; ``isolate`` emits each
    classify-True char as its OWN pre-token (the published
    'Isolated' behavior)."""
    out: list[str] = []
    buf: list[str] = []
    mode = None
    for ch in t:
        if drop is not None and drop(ch):
            if buf:
                out.append("".join(buf))
                buf = []
            mode = None
            continue
        m = classify(ch)
        if isolate and m:
            if buf:
                out.append("".join(buf))
                buf = []
            out.append(ch)
            mode = None
            continue
        if buf and m != mode:
            out.append("".join(buf))
            buf = []
        buf.append(ch)
        mode = m
    if buf:
        out.append("".join(buf))
    return out


def split_hf_whitespace(t: str) -> list[str]:
    """The published ``Whitespace`` pre-tokenizer
    (``\\w+|[^\\w\\s]+`` in the library's regex dialect): maximal
    word-char runs, maximal other-non-space runs, whitespace
    dropped — character classes per :func:`_is_hf_word_char` /
    :func:`_is_hf_space` (the Rust classes, not Python ``re``'s).
    Module-level so it pickles into the kernel broadcast."""
    return _split_runs(t, _is_hf_word_char, drop=_is_hf_space)


@lru_cache(maxsize=None)
def _is_hf_punct(ch: str) -> bool:
    """The published pre-tokenizer punctuation class (identical to
    BERT's ``_is_punctuation``): the four ASCII punctuation ranges
    plus every Unicode P* category.  Memoized per character (kernel
    hot path)."""
    cp = ord(ch)
    if (
        33 <= cp <= 47 or 58 <= cp <= 64
        or 91 <= cp <= 96 or 123 <= cp <= 126
    ):
        return True
    import unicodedata

    return unicodedata.category(ch).startswith("P")


def split_punctuation_isolated(t: str) -> list[str]:
    """The published ``Punctuation`` pre-tokenizer, ``behavior:
    Isolated`` (its default): every punctuation character becomes its
    own pre-token, non-punctuation runs stay whole — whitespace is
    NOT removed (that is ``Whitespace``'s job; the blocks compose in
    a Sequence).  Module-level so it pickles into the kernel
    broadcast."""
    return _split_runs(t, _is_hf_punct, isolate=True)


@lru_cache(maxsize=None)
def _is_hf_numeric(ch: str) -> bool:
    """The library's ``char::is_numeric`` — the Unicode N*
    categories (Nd/Nl/No) exactly.  NOT ``str.isnumeric``, which
    also admits Lo characters carrying ``Numeric_Type`` (Han
    numerals like ``一`` — r16 review: the superset silently split
    CJK text differently than the published pre-tokenizer).
    Memoized per character (kernel hot path)."""
    return unicodedata.category(ch) in ("Nd", "Nl", "No")


def split_digits_grouped(t: str) -> list[str]:
    """The published ``Digits`` pre-tokenizer,
    ``individual_digits: false``: numeric runs (N* categories, the
    library's ``char::is_numeric`` — :func:`_is_hf_numeric`) split
    from non-numeric runs; nothing is removed."""
    return _split_runs(t, _is_hf_numeric)


def split_digits_individual(t: str) -> list[str]:
    """``Digits`` with ``individual_digits: true``: every numeric
    character is its own pre-token."""
    return _split_runs(t, _is_hf_numeric, isolate=True)


def split_whitespace_runs(t: str) -> list[str]:
    """The engine whitespace grain as a callable (``WhitespaceSplit``
    inside a Sequence): split on the portable ASCII whitespace
    class, drop empties."""
    return [w for w in _WS_SPLIT.split(t) if w]


def _compile_pretok(pre_tokenizer):
    """The kernel pre-tokenization hook compiled (r16): ``None`` →
    the whitespace grain; a pattern string → ``re.findall`` (the
    GPT-2 path); a callable → itself; a tuple/list → the members
    applied SUCCESSIVELY, each member re-splitting every pre-token
    of the previous stage (the published ``Sequence`` composition).
    Runs inside the Arrow kernel — members must be picklable
    (module-level callables / pattern strings)."""
    if pre_tokenizer is None:
        return _WS_SPLIT.split
    if callable(pre_tokenizer):
        return pre_tokenizer
    if isinstance(pre_tokenizer, str):
        return re.compile(pre_tokenizer).findall
    fns = [_compile_pretok(m) for m in pre_tokenizer]

    def _seq(t: str) -> list[str]:
        parts = [t]
        for fn in fns:
            parts = [p for q in parts for p in fn(q) if p]
        return parts

    return _seq


def gpt2_bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte→unicode table (the published algorithm from the
    GPT-2 encoder; public knowledge): the 188 printable-and-not-space
    latin-1 bytes map to themselves, every other byte b maps to
    ``chr(256 + n)`` with n assigned in ascending byte order — a
    bijection onto 256 visible characters, so any byte string becomes
    a whitespace-free symbol string (space → 'Ġ', newline → 'Ċ').
    Byte-level BPE artifacts (merges.txt / vocab files of GPT-class
    tokenizers) are expressed in this encoded space."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, map(chr, cs)))


def _bad_tokens(tokens) -> list:
    """Tokens that can never match under whitespace pre-tokenization
    (None, empty, whitespace-carrying) — the single shared rule every
    vocabulary builder/loader validates with."""
    return [
        t for t in tokens
        if t is None or t == "" or _WS_SPLIT.search(t)
    ]


def vocab_from_tokens(
    spark, tokens: list[str], oov_tokens_per_char: float = 1.0,
) -> DataFrame:
    """Build a vocabulary artifact frame from a plain token list —
    ids are the list positions, plus the NULL-token OOV row.  The
    test/bootstrap path; real artifacts come from a tokenizer dump
    via :func:`save_bpe_vocab` / :func:`load_bpe_vocab`."""
    bad = _bad_tokens(tokens)
    if bad:
        raise ValueError(
            f"vocab_from_tokens: {len(bad)} empty or "
            f"whitespace-carrying tokens (first: {bad[0]!r}) — such "
            "entries can never match under whitespace pre-tokenization"
        )
    if len(set(tokens)) != len(tokens):
        raise ValueError("vocab_from_tokens: duplicate tokens")
    rows = [(t, float(i)) for i, t in enumerate(tokens)]
    rows.append((None, float(oov_tokens_per_char)))
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(spark, rows, VOCAB_SCHEMA)


def save_bpe_vocab(vocab: DataFrame, path: str) -> None:
    """Persist a vocabulary — including the NULL-token OOV row — as
    one parquet file, the round-trip sibling of
    :func:`load_bpe_vocab` (the :func:`save_logprob_table` pattern;
    the vocab is driver-sized, so one single-file write keeps the
    reload a single-file read)."""
    from wikiextractor_spark.functions.modelio import write_one_file

    write_one_file(vocab.select("token", "token_id"), path)


def load_bpe_vocab(
    spark, path: str, fmt: str | None = None,
    oov_tokens_per_char: float | None = None,
) -> DataFrame:
    """Load a PRETRAINED tokenizer vocabulary for
    :func:`bpe_token_count` — formats and validation exactly as the
    LM/classifier adapters (``parquet`` with columns ``token string,
    token_id double`` or headerless two-column ``tsv``; malformed
    values raise; the OOV scalar must arrive exactly once, as the
    NULL-token row or the argument).  Returns the vocab materialized
    with its NULL-token OOV row appended."""
    from wikiextractor_spark.functions.modelio import load_keyed_table

    table, oov = load_keyed_table(
        spark, path, fmt,
        key_col="token", key_type="string", value_col="token_id",
        scalar_name="oov_tokens_per_char", scalar=oov_tokens_per_char,
        caller="load_bpe_vocab",
    )
    from wikiextractor_spark.localframe import local_rows_df

    oov_row = local_rows_df(spark, [(None, float(oov))], VOCAB_SCHEMA)
    return table.unionByName(oov_row).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Exact merges-based BPE replay (r11): the opt-in EXACT mode beside
# greedy longest-match.  A merges artifact carries the learned merge
# rules as ranked pairs — the actual BPE tokenizer state — and replay
# applies them in rank order exactly as the serving tokenizer does
# (lowest-rank pair present in the word merges first, all its
# occurrences left to right), so pack budgets measured this way are
# faithful to GPT-class tokenizers at CHARACTER grain (byte-level
# tokenizers differ only where a char is multi-byte; stated).  After
# replay each surviving symbol that is in the VOCAB counts 1.0; a
# symbol outside it (necessarily a single unknown character when the
# artifact is well-formed, since every merge output is a vocab entry)
# charges the vocab's oov_tokens_per_char.  Greedy-vs-exact
# divergence is quantified in tests/test_tokenizer.py — the common
# case where they disagree is an ADDED vocab token (special tokens,
# added words) that no merge chain produces: greedy counts it as one
# hit, exact replay cannot reach it.  r13: the exact/ids path now
# takes ``special_tokens={text: id}`` — such tokens split out BEFORE
# pre-tokenization and emit their reserved id, the published
# added-token behavior.
# --------------------------------------------------------------------------

MERGES_SCHEMA = "pair string, rank double"


def merges_from_pairs(
    spark, pairs: list[tuple[str, str]],
) -> DataFrame:
    """Build a merges artifact frame from an ordered rule list —
    ranks are the list positions (the merges.txt convention: earlier
    line = applied first).  Each side must be non-empty and
    whitespace-free (same pre-tokenization argument as the vocab);
    the pair is keyed as ``left + ' ' + right``, unambiguous because
    of exactly that rule."""
    bad = [
        p for p in pairs
        if len(p) != 2 or not all(
            s and not _WS_SPLIT.search(s) for s in p
        )
    ]
    if bad:
        raise ValueError(
            f"merges_from_pairs: {len(bad)} malformed pairs (first: "
            f"{bad[0]!r}) — each side must be a non-empty "
            "whitespace-free string"
        )
    keys = [f"{a} {b}" for a, b in pairs]
    if len(set(keys)) != len(keys):
        raise ValueError("merges_from_pairs: duplicate merge pairs")
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(
        spark, [(k, float(i)) for i, k in enumerate(keys)], MERGES_SCHEMA
    )


def save_bpe_merges(merges: DataFrame, path: str) -> None:
    """Persist a merges artifact as one parquet file (driver-sized
    like the vocab; sibling of :func:`load_bpe_merges`)."""
    from wikiextractor_spark.functions.modelio import write_one_file

    write_one_file(merges.select("pair", "rank"), path)


def load_bpe_merges(
    spark, path: str, fmt: str | None = None,
) -> dict[tuple[str, str], float]:
    """Load a PRETRAINED merges table for
    :func:`bpe_token_count_exact` — the modelio keyed-table contract
    (``parquet`` with ``pair string, rank double`` or headerless
    two-column ``tsv``; malformed ranks raise).  The merges artifact
    has NO scalar row — the OOV cost lives on the VOCAB artifact —
    so a NULL-pair row is rejected by the shared loader.  Returns the
    driver-side rank map ``{(left, right): rank}`` (driver-sized by
    construction, like the vocab; broadcast by the counter)."""
    from wikiextractor_spark.functions.modelio import load_keyed_table

    table, _ = load_keyed_table(
        spark, path, fmt,
        key_col="pair", key_type="string", value_col="rank",
        scalar_name="(merges carry no scalar)", scalar=0.0,
        caller="load_bpe_merges",
    )
    rows = table.collect()
    ranks: dict[tuple[str, str], float] = {}
    bad: list[str] = []
    for r in rows:
        key = _merge_sides(r["pair"])  # the shared malformed-key rule
        if key is None:
            bad.append(r["pair"])
            continue
        ranks[key] = float(r["rank"])
    if bad:
        raise ValueError(
            f"load_bpe_merges: {len(bad)} pairs not of the form "
            f"'left right' (first: {bad[0]!r})"
        )
    if len(ranks) != len(rows):
        raise ValueError("load_bpe_merges: duplicate merge pairs")
    if len(set(ranks.values())) != len(ranks):
        raise ValueError(
            "load_bpe_merges: duplicate ranks — replay order would "
            "be ambiguous; fix the artifact"
        )
    return ranks


def _whole_text_artifact(spark, path: str, caller: str) -> str:
    """Read ONE driver-sized text artifact FS-agnostically (local,
    HDFS, S3 — whatever the session's Hadoop conf reaches) with line
    order preserved, directly through the Hadoop FileSystem API on
    the driver — the read-side sibling of ``modelio.
    write_one_text_file``'s driver-side write.  r17 optimization
    (guide §1.2): this used to be ``wholeTextFiles().collect()``,
    which launches one full Spark job per artifact load (pure
    scheduling latency for a driver-sized file — every tokenizer.json
    / merges.txt / vocab.txt bind paid it); the FS route reads the
    same bytes with no job.  Exactly one file must match (globs and
    directories resolve like the RDD route: directory = its non-hidden
    files)."""
    from wikiextractor_spark.fsutil import hadoop_fs

    jpath, fs = hadoop_fs(spark, path)
    matched = []
    for st in fs.globStatus(jpath) or []:
        if st.isDirectory():
            for sub in fs.listStatus(st.getPath()):
                name = sub.getPath().getName()
                if sub.isFile() and not name.startswith((".", "_")):
                    matched.append(sub.getPath())
        elif st.isFile():
            matched.append(st.getPath())
    if len(matched) != 1:
        raise ValueError(
            f"{caller}: expected exactly one file at {path!r}, "
            f"found {len(matched)}"
        )
    # transparent compression decoding, like the RDD route's record
    # reader: a .gz/.bz2-suffixed artifact must keep loading (the
    # CompressionCodecFactory resolves by extension exactly as
    # wholeTextFiles did)
    codec = spark._jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
        spark._jsc.hadoopConfiguration()
    ).getCodec(matched[0])
    stream = fs.open(matched[0])
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(
            stream
        )
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def _merge_sides(key: str) -> tuple[str, str] | None:
    """Split a ``'left right'`` merge key; None when malformed —
    wrong part count, an empty side, or NON-space whitespace inside a
    side (such a rule can never fire under whitespace
    pre-tokenization; a corrupt artifact raises at the caller, it
    does not silently shift counts).  The single shared rule for
    every merges loader."""
    parts = key.split(" ")
    if (
        len(parts) != 2
        or not all(parts)
        or any(_WS_SPLIT.search(p) for p in parts)
    ):
        return None
    return parts[0], parts[1]


def load_bpe_merges_txt(
    spark, path: str,
) -> dict[tuple[str, str], float]:
    """Load a merges table in the PUBLISHED merges.txt format of
    GPT-class tokenizers: an optional ``#version...`` FIRST line (the
    published header convention — exactly that prefix, so a real
    first rule whose left side is ``#`` is parsed as a rule, and any
    other comment-looking line raises as malformed rather than being
    silently swallowed), then one ``left right`` pair per line, rank
    = line order.  The sides arrive already in the byte-encoded
    symbol space (``Ġthe``...), so feed the result to
    :func:`bpe_token_count_exact` with ``byte_level=True`` and the
    matching pre-tokenizer.  Same validation surface as
    :func:`load_bpe_merges` (shared :func:`_merge_sides` rule):
    malformed lines, duplicate pairs raise; blank lines are tolerated
    (the published files end with one)."""
    text = _whole_text_artifact(spark, path, "load_bpe_merges_txt")
    ranks: dict[tuple[str, str], float] = {}
    bad: list[str] = []
    first_content = True
    for lineno, line in enumerate(text.splitlines()):
        if not line.strip():
            continue
        if first_content and line.startswith("#version"):
            first_content = False
            continue
        first_content = False
        key = _merge_sides(line)
        if key is None:
            bad.append(f"line {lineno + 1}: {line!r}")
            continue
        if key in ranks:
            raise ValueError(
                f"load_bpe_merges_txt: duplicate merge pair at line "
                f"{lineno + 1}: {line!r}"
            )
        ranks[key] = float(len(ranks))
    if bad:
        raise ValueError(
            f"load_bpe_merges_txt: {len(bad)} lines not of the form "
            f"'left right' (first: {bad[0]})"
        )
    if not ranks:
        raise ValueError(f"load_bpe_merges_txt: no merge rules in {path!r}")
    return ranks


def _ordered_merge_pairs(
    merges: dict[tuple[str, str], float], caller: str,
) -> list[tuple[str, str]]:
    """Validate a rank map for LINE-ORDER export (merges.txt,
    tokenizer.json model.merges) and return its pairs in rank order
    — the shared rules an export-then-reimport round trip needs:
    non-empty whitespace-free sides (the ``'left right'`` line
    format cannot express others), distinct ranks (line order would
    otherwise be ambiguous), non-empty table."""
    if not merges:
        raise ValueError(f"{caller}: empty merges table")
    bad = [
        p for p in merges
        if len(p) != 2
        or not all(
            isinstance(s, str) and s and not _WS_SPLIT.search(s)
            for s in p
        )
    ]
    if bad:
        raise ValueError(
            f"{caller}: {len(bad)} pairs with empty or "
            f"whitespace-carrying sides (first: {bad[0]!r}) — the "
            "'left right' line format cannot express them"
        )
    ranks = {p: float(r) for p, r in merges.items()}
    if len(set(ranks.values())) != len(ranks):
        raise ValueError(
            f"{caller}: duplicate ranks — line order would be "
            "ambiguous; fix the artifact"
        )
    return [p for p, _r in sorted(ranks.items(), key=lambda kv: kv[1])]


def save_bpe_merges_txt(
    spark, merges: dict[tuple[str, str], float], path: str,
) -> None:
    """Export a merges table in the PUBLISHED merges.txt format —
    the exact inverse of :func:`load_bpe_merges_txt` (r15, closing
    the one-way-interchange gap the r14 VERDICT flagged): the
    ``#version: 0.2`` header, then one ``left right`` line per rule
    in RANK order, one trailing newline (the published files' shape).
    Takes the loaders' rank-map form ``{(left, right): rank}`` — what
    :func:`load_bpe_merges` / :func:`train_bpe_tokenizer` hand out —
    and validates the same rules the import path enforces (non-empty
    whitespace-free sides, distinct ranks), so an artifact that
    exports is exactly one that reimports: ``load_bpe_merges_txt``
    over the written file returns an EQUAL rank map (ranks
    renumbered 0..n-1 by order, the line-order convention), pinned
    by the round-trip pytest.  FS-agnostic one-file write
    (:func:`~wikiextractor_spark.functions.modelio.
    write_one_text_file`)."""
    from wikiextractor_spark.functions.modelio import (
        write_one_text_file,
    )

    lines = ["#version: 0.2"]
    lines += [
        f"{a} {b}"
        for a, b in _ordered_merge_pairs(merges, "save_bpe_merges_txt")
    ]
    write_one_text_file(spark, "\n".join(lines) + "\n", path)


def save_bpe_vocab_json(spark, vocab: DataFrame, path: str) -> None:
    """Export a vocabulary in the PUBLISHED vocab.json format — the
    exact inverse of :func:`load_bpe_vocab_json` (r15): one compact
    JSON object ``{token: id}``, entries in id order, ids integral
    (the embedding contract; fractional ids raise through the shared
    check).  The NULL-token OOV row is DROPPED — the published format
    cannot express it; pass ``oov_tokens_per_char=`` on reimport
    (the loader's default 1.0 is the base-byte cost a full-coverage
    byte-level artifact charges anyway).  Round trip pinned by
    pytest: reimport returns the same ``{token: id}`` mapping and a
    re-export is byte-identical."""
    import json

    from wikiextractor_spark.functions.modelio import (
        write_one_text_file,
    )

    _tokens, _oov, rows = _vocab_tokens_and_oov(
        vocab, "save_bpe_vocab_json"
    )
    _tok2id, id2tok, _rev = _vocab_id_maps(
        rows, None, "save_bpe_vocab_json"
    )
    # _vocab_id_maps rejects duplicate IDS; duplicate token TEXTS
    # (distinct ids) would here silently collapse into one JSON entry
    # — a corrupt artifact must raise, like every other exporter
    # (r15 review)
    if len(set(id2tok.values())) != len(id2tok):
        raise ValueError(
            "save_bpe_vocab_json: duplicate token texts — the JSON "
            "object would silently drop ids; fix the artifact"
        )
    obj = {id2tok[i]: i for i in sorted(id2tok)}
    write_one_text_file(
        spark,
        json.dumps(obj, ensure_ascii=False, separators=(",", ":")),
        path,
    )


def load_bpe_vocab_json(
    spark, path: str, oov_tokens_per_char: float = 1.0,
) -> DataFrame:
    """Load a vocabulary in the PUBLISHED vocab.json format of
    GPT-class tokenizers (one JSON object ``{token: id}``, tokens in
    the byte-encoded symbol space) as the engine's vocab artifact
    frame for :func:`bpe_token_count_exact`.  Byte-level tokenizers
    carry all 256 base bytes in the vocab, so OOV should never fire
    — ``oov_tokens_per_char`` defaults to the 1-token-per-byte cost
    a base-byte fallback would charge anyway.  Empty or
    whitespace-carrying tokens and non-numeric ids raise (the modelio
    malformed-values-raise discipline); duplicate ids are legal in
    principle but almost certainly a corrupt artifact, so they raise
    too."""
    import json

    text = _whole_text_artifact(spark, path, "load_bpe_vocab_json")
    try:
        obj = json.loads(text)
    except ValueError as exc:
        raise ValueError(
            f"load_bpe_vocab_json: {path!r} is not valid JSON: {exc}"
        ) from exc
    if not isinstance(obj, dict) or not obj:
        raise ValueError(
            "load_bpe_vocab_json: expected one non-empty JSON object "
            "{token: id}"
        )
    shape_bad = _bad_tokens(obj)
    shape_bad_set = set(shape_bad)  # membership probe per entry: a
    # heavily corrupt ~50k-entry artifact would make a list scan O(n²)
    bad = shape_bad + [
        t for t, i in obj.items()
        if t not in shape_bad_set  # report each entry once
        and (isinstance(i, bool) or not isinstance(i, (int, float)))
    ]
    if bad:
        raise ValueError(
            f"load_bpe_vocab_json: {len(bad)} malformed entries "
            f"(first: {bad[0]!r}) — tokens must be non-empty and "
            "whitespace-free, ids numeric"
        )
    if len(set(obj.values())) != len(obj):
        raise ValueError("load_bpe_vocab_json: duplicate token ids")
    rows = [(t, float(i)) for t, i in obj.items()]
    rows.append((None, float(oov_tokens_per_char)))
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(spark, rows, VOCAB_SCHEMA)


def _bpe_replay_symbols(
    word: str, ranks: dict[tuple[str, str], float],
) -> list[str]:
    """Surviving symbols of one word under exact merge replay (the
    reference BPE serving algorithm: repeatedly merge the
    lowest-ranked adjacent pair, all occurrences left to right)."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_replay_word(
    word: str, ranks: dict[tuple[str, str], float],
    vocab: frozenset, oov: float,
) -> float:
    """Token count of one word under exact merge replay."""
    total = 0.0
    for s in _bpe_replay_symbols(word, ranks):
        total += 1.0 if s in vocab else oov * len(s)
    return total


def _vocab_tokens_and_oov(
    vocab: DataFrame, caller: str,
) -> tuple[list[str], float, list]:
    """Shared artifact validation for the counting/ids kernels:
    exactly one NULL-token OOV row, a non-empty vocabulary, and no
    empty or whitespace-carrying tokens (such entries can never match
    under whitespace pre-tokenization — a corrupt artifact raises, it
    does not silently shift counts).  Returns the collected rows too,
    so a caller that also needs the ids never collects the artifact
    twice."""
    rows = vocab.select("token", "token_id").collect()
    oov_vals = [r["token_id"] for r in rows if r["token"] is None]
    if len(oov_vals) != 1 or oov_vals[0] is None:
        raise ValueError(
            f"{caller}: vocab must carry exactly one NULL-token "
            f"oov_tokens_per_char row, found {len(oov_vals)} — load "
            "it through load_bpe_vocab"
        )
    tokens = [r["token"] for r in rows if r["token"] is not None]
    if not tokens:
        raise ValueError(f"{caller}: empty vocabulary")
    bad = [t for t in tokens if t == "" or _WS_SPLIT.search(t)]
    if bad:
        raise ValueError(
            f"{caller}: {len(bad)} empty or whitespace-carrying "
            f"vocab tokens (first: {bad[0]!r}) — they can never match "
            "under whitespace pre-tokenization; fix the artifact"
        )
    return tokens, float(oov_vals[0]), rows


def _check_embedding_id(caller: str, what: str, v) -> int:
    """Shared validation for any id that must index an embedding
    table (vocab token ids, special-token ids): an integral
    non-negative NUMBER — None, bools, strings (even numeric ones),
    and fractional values raise the caller's contract error instead
    of a bare TypeError, and negatives would collide with the -1 OOV
    sentinel.  One definition so the vocab and special-token paths
    cannot drift (r13 review)."""
    import math

    if (
        v is None
        or isinstance(v, bool)
        or not isinstance(v, (int, float))
        or not math.isfinite(v)  # inf/NaN: int() would raise a bare
        or float(v) != int(v)    # OverflowError with no context
    ):
        raise ValueError(
            f"{caller}: {what} has non-integral id {v!r} — ids must "
            "index an embedding table"
        )
    if int(v) < 0:
        raise ValueError(
            f"{caller}: {what} has negative id {v!r} — it would "
            "collide with the -1 OOV sentinel"
        )
    return int(v)


def _compile_specials(
    special_tokens, caller: str,
) -> tuple[str | None, dict[str, int] | None]:
    """Validate a ``special_tokens`` mapping ``{text: id}`` and build
    the splitting pattern: one capturing alternation of the escaped
    special texts, LONGEST FIRST so overlapping specials resolve to
    the longest match at a position (the published added-token
    behavior).  Texts must be non-empty strings; ids non-negative
    integers (they index an embedding table and must not collide with
    the -1 OOV sentinel), distinct (two specials sharing an id is a
    corrupt call, not a choice)."""
    if not special_tokens:
        return None, None
    items = dict(special_tokens)
    bad = [t for t in items if not isinstance(t, str) or t == ""]
    if bad:
        raise ValueError(
            f"{caller}: {len(bad)} special-token texts are empty or "
            f"not strings (first: {bad[0]!r})"
        )
    out: dict[str, int] = {}
    for t, v in items.items():
        out[t] = _check_embedding_id(caller, f"special token {t!r}", v)
    if len(set(out.values())) != len(out):
        raise ValueError(
            f"{caller}: special-token ids must be distinct, got "
            f"{sorted(out.values())}"
        )
    pat = "(%s)" % "|".join(
        re.escape(t) for t in sorted(out, key=len, reverse=True)
    )
    return pat, out


def _memoized_word_counter(df: DataFrame, count_word, out_col: str,
                           text_col: str,
                           pre_tokenizer: str | None = None, *,
                           result_type: str = "double",
                           list_mode: bool = False,
                           special_pat: str | None = None,
                           special_ids: dict[str, int] | None = None,
                           segment_transform=None,
                           ) -> DataFrame:
    """Shared kernel body for the counting AND ids modes: one
    Arrow-batched pandas UDF, NULL text stays NULL, and the per-batch
    bounded word memo (Zipfian repetition makes the memo the dominant
    win; see bpe_token_count's docstring).  Pre-tokenization is the
    whitespace split by default; ``pre_tokenizer`` switches to
    ``re.findall`` with the given pattern (GPT-2-style grain —
    pre-tokens may then CARRY whitespace, e.g. ``" word"`` /
    ``"\\n\\n"``, and whitespace runs count as tokens instead of
    vanishing), a picklable CALLABLE ``str → list[str]`` (the
    published Punctuation/Digits grains), or a tuple of
    patterns/callables applied successively (the published
    ``Sequence`` composition) — compiled inside the kernel by
    :func:`_compile_pretok` (r16).  ``count_word`` (pre-token → per-word value) must be
    picklable with its closed-over state — it rides the UDF's
    broadcast.  ``list_mode`` switches the per-document fold from
    summing doubles to extending a list (the ids kernel) — ONE body
    so the cache policy, split selection, and NULL semantics cannot
    drift between the modes.

    ``special_pat``/``special_ids`` (r13, from
    :func:`_compile_specials`): the text is split on literal special
    tokens BEFORE pre-tokenization — each occurrence emits exactly its
    reserved id (list mode) or 1.0 (count mode), and the surrounding
    segments pre-tokenize independently (a segment boundary never
    fuses across a special, exactly the published added-token
    split).

    ``segment_transform`` (r15): a picklable ``str → str`` applied
    to each NON-special segment AFTER the special split and BEFORE
    the word split — the published added-token order (added tokens
    are extracted from the RAW text, then each remaining segment is
    normalized), which composing a normalizer upstream of the kernel
    cannot reproduce (it would mangle the literal special texts
    before the split could see them)."""
    bc = df.sparkSession.sparkContext.broadcast(
        (count_word, _WORD_CACHE_MAX, pre_tokenizer, list_mode,
         special_pat, special_ids, segment_transform)
    )

    @F.pandas_udf(result_type)
    def _count(s: pd.Series) -> pd.Series:
        fn, cache_max, pat, lmode, spat, sids, seg_fn = bc.value
        split = _compile_pretok(pat)
        sre = re.compile(spat) if spat is not None else None
        cache: dict = {}

        def _doc(t):
            if t is None:
                return None
            total = [] if lmode else 0.0
            # with a capturing alternation, segments sit at even
            # indices and matched specials at odd ones
            pieces = [t] if sre is None else sre.split(t)
            for k, seg in enumerate(pieces):
                if sre is not None and k % 2 == 1:
                    if lmode:
                        total.append(sids[seg])
                    else:
                        total += 1.0
                    continue
                if not seg:
                    continue
                if seg_fn is not None:
                    seg = seg_fn(seg)
                for w in split(seg):
                    if not w:
                        continue
                    c = cache.get(w)
                    if c is None:
                        if len(cache) >= cache_max:
                            cache.clear()
                        c = cache[w] = fn(w)
                    if lmode:
                        total.extend(c)
                    else:
                        total += c
            return total

        return s.map(_doc)

    return df.withColumn(out_col, _count(F.col(text_col)))


def _bpe_replay_bytes(
    ptok: str, ranks: dict[tuple[str, str], float],
    vocab: frozenset, oov: float, byte_enc: dict[int, str],
) -> float:
    """Byte-level variant of :func:`_bpe_replay_word`: the pre-token
    is UTF-8 encoded and mapped through the GPT-2 byte→unicode table
    first, so the replay runs over byte-grain symbols in the encoded
    space the artifact's merges/vocab are expressed in.  OOV symbols
    charge ``oov`` per ENCODED character (= per byte); a real
    byte-level artifact carries all 256 base bytes in its vocab, so
    OOV there is the base-byte cost 1.0 per byte."""
    enc = "".join(byte_enc[b] for b in ptok.encode("utf-8"))
    return _bpe_replay_word(enc, ranks, vocab, oov)


def bpe_token_count_exact(
    df: DataFrame, vocab: DataFrame,
    merges: dict[tuple[str, str], float],
    text_col: str = "text", out_col: str = "n_tokens_bpe",
    *, byte_level: bool = False, pre_tokenizer: str | None = None,
    special_tokens: dict[str, int] | None = None,
) -> DataFrame:
    """Attach ``out_col``: the text's token count under EXACT BPE
    merge replay — pre-tokenization, then per pre-token the ranked
    merges applied in order (:func:`_bpe_replay_word`), surviving
    symbols counted against the vocab with its OOV scalar.  Same
    frame contract as :func:`bpe_token_count` (NULL text stays NULL,
    DOUBLE count), same scale shape (broadcast rank map + vocab, one
    Arrow-batched kernel, per-batch pre-token memo).

    Default mode is CHARACTER grain with whitespace pre-tokenization
    (the battery/differential baseline).  For faithfulness to
    GPT-class tokenizers (r12):

    * ``pre_tokenizer`` — a regex pattern replacing the whitespace
      split with ``re.findall`` (pass
      :data:`GPT2_PRETOKENIZER_PATTERN` for the GPT-2 grain, where
      ``don't`` splits ``don``/``'t``, words carry their leading
      space, and whitespace runs are themselves pre-tokens instead of
      vanishing — the divergences a whitespace grain shows on every
      contraction and punctuation boundary).
    * ``byte_level=True`` — each pre-token is UTF-8 encoded through
      :func:`gpt2_bytes_to_unicode` before replay, so the merges and
      vocab are interpreted in the encoded byte space real
      merges.txt/vocab artifacts use (``Ġthe``, ``ĊĊ``...) and
      multi-byte characters are charged per byte, not per char.

    Both together replay an imported GPT-2-style artifact faithfully
    on contractions, punctuation, whitespace runs, and non-ASCII text
    (category-edge caveats stated on the pattern constant).  The
    greedy :func:`bpe_token_count` deliberately keeps the whitespace
    grain — its vocab-only artifact has no byte-space convention.

    ``special_tokens`` (r13): ``{text: id}`` ADDED tokens (the
    published ``<|endoftext|>`` convention) split out of the text
    BEFORE pre-tokenization; each literal occurrence counts exactly
    1.0 instead of replaying its characters through the merges —
    without this, a corpus that contains special-token text (notably
    the engine's own :func:`~wikiextractor_spark.operators.packing.
    assemble_packs` / :func:`~wikiextractor_spark.operators.fim.
    fim_transform` output re-ingested as text) charges ~10 byte-grain
    symbols per marker and every pack budget drifts.  Overlapping
    specials resolve longest-first at a position
    (:func:`_compile_specials`)."""
    tokens, oov, _rows = _vocab_tokens_and_oov(vocab, "bpe_token_count_exact")
    spat, sids = _compile_specials(special_tokens, "bpe_token_count_exact")
    vs = frozenset(tokens)
    ranks = dict(merges)
    if byte_level:
        count = partial(
            _bpe_replay_bytes, ranks=ranks, vocab=vs, oov=oov,
            byte_enc=gpt2_bytes_to_unicode(),
        )
    else:
        count = partial(_bpe_replay_word, ranks=ranks, vocab=vs, oov=oov)
    return _memoized_word_counter(
        df, count, out_col, text_col, pre_tokenizer=pre_tokenizer,
        special_pat=spat, special_ids=sids,
    )


def _replay_ids_word(
    ptok: str, ranks: dict[tuple[str, str], float],
    ids: dict[str, int], byte_enc: dict[int, str] | None,
) -> list[int]:
    """Token-id sequence of one pre-token under exact replay.  An
    OOV surviving symbol emits -1 PER CHARACTER (mirroring the
    per-char OOV cost of the counting kernels, and under a
    well-formed artifact — every merge output a vocab entry — an OOV
    symbol IS a single unknown character; real byte-level vocabs
    cover all 256 base bytes, so -1 never fires there)."""
    if byte_enc is not None:
        ptok = "".join(byte_enc[b] for b in ptok.encode("utf-8"))
    out: list[int] = []
    for s in _bpe_replay_symbols(ptok, ranks):
        i = ids.get(s)
        if i is None:
            out.extend([-1] * len(s))
        else:
            out.append(i)
    return out


def bpe_token_ids(
    df: DataFrame, vocab: DataFrame,
    merges: dict[tuple[str, str], float],
    text_col: str = "text", out_col: str = "token_ids",
    *, byte_level: bool = False, pre_tokenizer: str | None = None,
    special_tokens: dict[str, int] | None = None,
) -> DataFrame:
    """Attach ``out_col``: the text TOKENIZED to an ``array<long>``
    of vocabulary ids under exact BPE merge replay — the id stream a
    training pipeline ultimately feeds the model, produced in-engine
    with the same pre-tokenization/byte-level options as
    :func:`bpe_token_count_exact` (same broadcast artifacts, one
    Arrow-batched kernel, per-batch pre-token memo; NULL text stays
    NULL, empty text is an empty array).  Vocabulary ids must be
    integral (``token_id`` rides as double in the artifact schema; a
    fractional id raises — it cannot index an embedding table); OOV
    emits -1 per character, stated in :func:`_replay_ids_word`.

    ``special_tokens`` (r13): ``{text: id}`` ADDED tokens split out
    BEFORE pre-tokenization, each literal occurrence emitting exactly
    its RESERVED id (the published behavior: real ``vocab.json``
    artifacts carry added tokens no merge chain produces, and
    GPT-class corpora contain literal ``<|endoftext|>`` text).  The
    surrounding segments tokenize independently — a special never
    fuses with its neighbors.

    The token COUNT under any ``oov_tokens_per_char`` is derivable
    from the ids without re-running the kernel: each id >= 0 counts
    1.0, each -1 counts the OOV scalar — exactly
    :func:`bpe_token_count_exact`'s arithmetic (special ids are >= 0,
    so they count 1.0 like any vocab hit)."""
    _tokens, _oov, rows = _vocab_tokens_and_oov(vocab, "bpe_token_ids")
    spat, sids = _compile_specials(special_tokens, "bpe_token_ids")
    # the shared map construction also enforces the special/vocab
    # collision policy: a special sharing an id with a DIFFERENT
    # vocab token would make the id stream ambiguous (downstream
    # separator logic, decode); the published special-in-vocab
    # layout passes (r13 review)
    ids, _id2tok, _rev = _vocab_id_maps(rows, sids, "bpe_token_ids")
    byte_enc = gpt2_bytes_to_unicode() if byte_level else None
    return _memoized_word_counter(
        df,
        partial(
            _replay_ids_word, ranks=dict(merges), ids=ids,
            byte_enc=byte_enc,
        ),
        out_col, text_col, pre_tokenizer=pre_tokenizer,
        result_type="array<long>", list_mode=True,
        special_pat=spat, special_ids=sids,
    )


def _vocab_id_maps(
    rows, sids: dict[str, int] | None, caller: str,
    byte_dec: dict[str, int] | None = None,
) -> tuple[dict[str, int], dict[int, str], dict[int, str]]:
    """Shared id-map construction + special/vocab collision policy
    for the encode (:func:`bpe_token_ids`) and decode
    (:func:`bpe_decode_ids`) paths — ONE home so the policies cannot
    drift (r13 review).  Returns ``(tok2id, id2tok, rev_special)``.

    Duplicate vocab ids raise on BOTH paths (decode would be
    ambiguous; an encode artifact with duplicate ids is corrupt —
    the vocab.json loader already rejects them).  A special sharing
    an id with a DIFFERENT vocab token raises; sharing with the
    identically-spelled vocab token passes (the published
    special-in-vocab layout) — except under a byte-level DECODE
    (``byte_dec`` given), where the shared text must additionally
    byte-decode to itself: an encoded-space special text like
    ``'Ġt'`` would otherwise silently shadow the vocab token's byte
    decode with its literal characters."""
    tok2id: dict[str, int] = {}
    id2tok: dict[int, str] = {}
    for r in rows:
        if r["token"] is None:
            continue
        tid = _check_embedding_id(
            caller, f"token {r['token']!r}", r["token_id"]
        )
        if tid in id2tok:
            raise ValueError(
                f"{caller}: duplicate vocab id {tid} (tokens "
                f"{id2tok[tid]!r} and {r['token']!r}) — the id "
                "mapping would be ambiguous; fix the artifact"
            )
        id2tok[tid] = r["token"]
        tok2id[r["token"]] = tid
    rev_special: dict[int, str] = {}
    for t, i in (sids or {}).items():
        other = id2tok.get(i)
        if other is not None and other != t:
            raise ValueError(
                f"{caller}: special token {t!r} id {i} collides with "
                f"vocab token {other!r} — the id stream would be "
                "ambiguous"
            )
        if other == t and byte_dec is not None:
            decoded = (
                bytes(byte_dec[c] for c in t).decode(
                    "utf-8", errors="replace"
                )
                if all(c in byte_dec for c in t)
                else None
            )
            if decoded != t:
                raise ValueError(
                    f"{caller}: special token {t!r} shares id {i} "
                    "with the identically-spelled vocab token, but "
                    "its text does not byte-decode to itself — "
                    "emitting the marker text verbatim would "
                    "silently shadow the token's byte decode"
                )
        rev_special[i] = t
    return tok2id, id2tok, rev_special


def _decode_ids_one(
    ids, id2tok: dict[int, str], byte_dec: dict[str, int] | None,
    rev_special: dict[int, str], oov_char: str,
    caller: str = "bpe_decode_ids",
):
    """Decode one id stream.  Vocab ids accumulate their token
    strings into a buffer (the encoded byte space when
    ``byte_dec`` is set); -1 contributes one ``oov_char`` per
    unknown unit; a SPECIAL id flushes the buffer (byte-decoding it
    when byte-level) and emits its marker text RAW — specials never
    pass through the byte table, mirroring the encode-side pre-split.
    Any other id raises (an unregistered sentinel — sep/fim ids —
    must be declared in ``special_tokens``; guessing would silently
    corrupt the text)."""
    if ids is None:
        return None
    parts: list[str] = []
    buf: list[str] = []

    def flush():
        if not buf:
            return
        s = "".join(buf)
        buf.clear()
        if byte_dec is None:
            parts.append(s)
        else:
            parts.append(
                bytes(byte_dec[c] for c in s).decode(
                    "utf-8", errors="replace"
                )
            )

    for i in ids:
        sp = rev_special.get(i)
        if sp is not None:
            flush()
            parts.append(sp)
            continue
        if i == -1:
            buf.append(oov_char)
            continue
        tok = id2tok.get(i)
        if tok is None:
            raise ValueError(
                f"{caller}: id {i} is neither a vocab id, -1, "
                "nor a registered special token — sentinel ids "
                "(separators, FIM markers) must be declared in "
                "special_tokens"
            )
        buf.append(tok)
    flush()
    return "".join(parts)


def bpe_decode_ids(
    df: DataFrame, vocab: DataFrame,
    ids_col: str = "token_ids", out_col: str = "text",
    *, byte_level: bool = False,
    special_tokens: dict[str, int] | None = None,
    oov_char: str = "?",
) -> DataFrame:
    """Attach ``out_col``: the id stream DECODED back to text — the
    inverse adapter of :func:`bpe_token_ids` (r13), for inspecting
    packed/augmented training sequences and round-trip validation.
    ``byte_level=True`` runs the inverse GPT-2 byte table (tokens
    are encoded-space strings whose characters map back to bytes,
    then UTF-8; a malformed sequence — e.g. a FIM cut splitting a
    multi-byte character across parts — decodes with U+FFFD
    replacement, stated).  ``special_tokens`` is the SAME mapping
    given to the encoder (plus any downstream sentinel ids:
    ``assemble_packs``' separator, :func:`~wikiextractor_spark.
    operators.fim.fim_transform`'s markers) — those ids emit their
    text verbatim.  Each -1 (encode-side OOV) becomes one
    ``oov_char``; an id outside all three classes raises.  NULL
    streams stay NULL.

    On a full-coverage byte-level artifact (all 256 base bytes in
    vocab, the published layout) with matching specials,
    ``decode(encode(text)) == text`` exactly — pinned by pytest on
    real documents.  Scale shape: broadcast id→token map, one
    Arrow-batched kernel, no shuffle."""
    _tokens, _oov, rows = _vocab_tokens_and_oov(vocab, "bpe_decode_ids")
    _spat, sids = _compile_specials(special_tokens, "bpe_decode_ids")
    if not isinstance(oov_char, str) or len(oov_char) != 1:
        raise ValueError(
            f"bpe_decode_ids: oov_char must be one character, got "
            f"{oov_char!r}"
        )
    byte_dec = (
        {c: b for b, c in gpt2_bytes_to_unicode().items()}
        if byte_level else None
    )
    _tok2id, id2tok, rev_special = _vocab_id_maps(
        rows, sids, "bpe_decode_ids", byte_dec=byte_dec
    )
    if byte_dec is not None:
        bad_toks = [
            t for t in id2tok.values()
            if any(c not in byte_dec for c in t)
        ]
        if bad_toks:
            raise ValueError(
                f"bpe_decode_ids: {len(bad_toks)} vocab tokens carry "
                f"characters outside the byte-level encoded space "
                f"(first: {bad_toks[0]!r}) — the artifact is not a "
                "byte-level vocabulary"
            )
        if oov_char not in byte_dec:
            raise ValueError(
                f"bpe_decode_ids: oov_char {oov_char!r} is outside "
                "the encoded byte space"
            )
    bc = df.sparkSession.sparkContext.broadcast(
        (id2tok, byte_dec, rev_special, oov_char)
    )

    @F.pandas_udf("string")
    def _decode(s: pd.Series) -> pd.Series:
        i2t, bdec, rsp, oc = bc.value
        return s.map(
            lambda ids: _decode_ids_one(ids, i2t, bdec, rsp, oc)
        )

    return df.withColumn(out_col, _decode(F.col(ids_col)))


def _merge_fold(a: str, b: str, fused: str):
    """One training merge pass over a symbol array as a native
    Catalyst fold (``F.aggregate``): replace every adjacent (a, b)
    left to right with ``fused``, overlap blocked — the accumulator
    carries a ``pend``ing symbol so a lookahead match can either fuse
    (``pend=a, x=b`` → emit the fused token) or flush.  Exactly the
    serving replay's per-rule pass (:func:`_bpe_replay_word`),
    expressed JVM-side; symbols are data, so the pair arrives as
    ``F.lit`` (never spliced into an expr string)."""
    a_lit, b_lit, fused_col = F.lit(a), F.lit(b), F.lit(fused)
    init = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, x):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["acc"].alias("acc"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == a_lit) & (x == b_lit),
                F.struct(
                    F.array_append(acc["acc"], fused_col).alias("acc"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["acc"], acc["pend"]).alias("acc"),
                    x.alias("pend"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["pend"].isNull(), acc["acc"]).otherwise(
            F.array_append(acc["acc"], acc["pend"])
        )

    return lambda col: F.aggregate(col, init, step, finish)


# adjacent symbol pairs with every position counted (Sennrich
# learn_bpe's get_stats grain: "aaa" contributes (a,a) twice even
# though one merge pass can only fuse once — selection counts
# positions, merging blocks overlaps)
_ADJ_PAIRS = (
    "transform(slice(syms, 1, size(syms) - 1), "
    "(x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"
)


#: r17 (guide §1.2): when the checkpointed distinct-word table fits on
#: the driver, :func:`_learn_merges` runs the merge round loop locally
#: with zero per-round Spark jobs, which is exactly how the published
#: BPE/WordPiece trainers are built (distributed/streamed word
#: counting, an in-memory merge loop).  Above this row bound the
#: distributed round loop runs over the same checkpoint.  The local
#: replay is value-identical by construction: same pair grain, same
#: argmax order (count/score desc, pair key ascending — Python string
#: comparison and UTF8String byte order agree on valid UTF-8), same
#: IEEE divisions, same left-to-right overlap-blocked fold (pytest
#: pins the equivalence on randomized corpora).
TRAIN_DRIVER_MAX_WORDS = 1 << 17


def _merge_fold_local(
    syms: list, a: str, b: str, fused: str,
) -> list:
    """:func:`_merge_fold`'s exact semantics over a Python list:
    replace adjacent (a, b) left to right, overlap blocked."""
    out: list = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(fused)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _fuse_wp(a: str, b: str) -> str:
    """The WordPiece fuse rule: the right side's continuation marker
    is absorbed — merge('a','##b') → 'ab', merge('##b','##c') →
    '##bc' (the left side keeps whatever marker it has)."""
    return a + (b[2:] if b.startswith("##") else b)


def _check_merge_args(n_merges: int, min_count: int, caller: str) -> None:
    if n_merges < 0:
        raise ValueError(f"{caller}: n_merges must be >= 0")
    if min_count < 1:
        raise ValueError(f"{caller}: min_count must be >= 1")


def _learn_merges_local(
    rows: list, n_merges: int, min_count: int, wordpiece: bool,
) -> list:
    """:func:`_learn_merges`' round loop over the COLLECTED word table
    (``(syms, freq)`` pairs) — a value-identical replay of the
    distributed loop."""
    fuse = _fuse_wp if wordpiece else str.__add__
    merges: list = []
    for _ in range(n_merges):
        pc: dict = {}
        sc: dict = {}
        for syms, freq in rows:
            if wordpiece:
                for s in syms:
                    sc[s] = sc.get(s, 0) + freq
            for i in range(len(syms) - 1):
                k = (syms[i], syms[i + 1])
                pc[k] = pc.get(k, 0) + freq
        best = None
        for (a, b), c in pc.items():
            if c < min_count:
                continue
            score = float(c) / float(sc[a]) / float(sc[b]) if wordpiece else c
            key = (-score, a + " " + b)
            if best is None or key < best[0]:
                best = (key, a, b, c)
        if best is None:
            break
        _key, a, b, c = best
        fused = fuse(a, b)
        merges.append((a, b, fused, c))
        if len(merges) == n_merges:
            break
        rows = [
            (folded, freq)
            for syms, freq in rows
            for folded in (_merge_fold_local(syms, a, b, fused),)
            if wordpiece or len(folded) > 1
        ]
    return merges


def _learn_merges(
    words: DataFrame, n_merges: int, min_count: int, wordpiece: bool,
) -> list[tuple[str, str, str, int]]:
    """The merge trainer both families share, over a CHECKPOINTED
    ``(syms, freq)`` word table (:func:`_checkpointed_words`) →
    ranked ``(left, right, fused, pair_count)``.  Each round picks the
    adjacent pair with the highest score among pairs whose raw count
    reaches ``min_count`` (ties broken by the pair key ascending) and
    fuses all its occurrences left to right.

    ``wordpiece`` selects the family: the likelihood score
    ``cnt / count(a) / count(b)`` over symbol counts of the FULL
    table (singleton words kept), and the ``##``-absorbing fuse
    (:func:`_fuse_wp`).  Without it: BPE's raw-count score, plain
    concatenation, and words down to one symbol dropped (they carry
    no pair).  For BPE the ``min_count`` filter is exactly the old
    stop rule — the raw-count argmax falls below ``min_count`` only
    when no pair reaches it.

    Venue: ONE limit-bounded read of the checkpoint — at or under
    :data:`TRAIN_DRIVER_MAX_WORDS` rows the round loop runs on the
    driver (:func:`_learn_merges_local`); above it each round is one
    pair-count aggregation (plus the broadcast symbol counts for
    WordPiece) and a single-row argmax collect, the merge pass a
    narrow native fold (:func:`_merge_fold`) localCheckpointed per
    round with the superseded round's blocks released."""
    if not wordpiece:
        words = words.where(F.size("syms") > 1)
    head = words.limit(TRAIN_DRIVER_MAX_WORDS + 1).collect()
    if len(head) <= TRAIN_DRIVER_MAX_WORDS:
        return _learn_merges_local(
            [(list(r["syms"]), int(r["freq"])) for r in head],
            n_merges, min_count, wordpiece,
        )
    fuse = _fuse_wp if wordpiece else str.__add__
    merges: list[tuple[str, str, str, int]] = []
    cur = words
    try:
        for _ in range(n_merges):
            # pairs come only from 2+-symbol words (the slice in
            # _ADJ_PAIRS is empty on singletons)
            pairs = (
                cur.select(F.explode(F.expr(_ADJ_PAIRS)).alias("p"), "freq")
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("cnt"))
                .where(F.col("cnt") >= min_count)
            )
            score = F.col("cnt")
            if wordpiece:
                syms = (
                    cur.select(F.explode("syms").alias("s"), "freq")
                    .groupBy("s")
                    .agg(F.sum("freq").alias("c"))
                )
                pairs = pairs.join(
                    F.broadcast(syms.toDF("a", "ca")), "a"
                ).join(F.broadcast(syms.toDF("b", "cb")), "b")
                # two divisions, never ca*cb: the BIGINT product
                # overflows past ~3e9-frequency symbols (r13 ADVICE)
                score = (
                    F.col("cnt").cast("double")
                    / F.col("ca").cast("double")
                    / F.col("cb").cast("double")
                )
            best = (
                pairs.orderBy(
                    score.desc(), F.asc(F.concat_ws(" ", "a", "b"))
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            a, b = best[0]["a"], best[0]["b"]
            fused = fuse(a, b)
            merges.append((a, b, fused, int(best[0]["cnt"])))
            if len(merges) == n_merges:
                # the final round's fold feeds no further aggregation
                break
            folded = cur.select(
                _merge_fold(a, b, fused)(F.col("syms")).alias("syms"),
                "freq",
            )
            if not wordpiece:
                folded = folded.where(F.size("syms") > 1)
            prev, cur = cur, folded.localCheckpoint(eager=True)
            # the caller owns the input table; every later round is
            # ours, and the superseded one can go once its successor
            # is materialized
            if prev is not words:
                release_local_checkpoint(prev)
    finally:
        if cur is not words:
            release_local_checkpoint(cur)
    return merges


def _word_counts(
    df: DataFrame, text_col: str,
    sample_fraction: float | None, seed: int,
    *, pre_tokenizer: str | None = None, byte_level: bool = False,
    special_pat: str | None = None,
):
    """The distinct-word frequency table every trainer reads —
    ``((w string, freq long) frame, broadcast | None)`` from ONE
    map-side-combinable shuffle over the (optionally sampled) corpus.
    NULL text contributes nothing.  The frame is lazy; the families
    project it (BPE symbols, WordPiece ``##`` marks, the unigram
    marker) and :func:`_checkpointed_words` materializes it once.

    At the plain whitespace grain the word split is the JVM's
    (:data:`WS_SPLIT_PATTERN_JVM`).  A pre-tokenizer, the byte-level
    grain or protected specials route through one Arrow-batched
    pandas kernel instead: per text it splits out the protected
    special texts (which contribute NOTHING to the statistics — the
    published trainer convention, and the mirror of the serving
    kernels' pre-split), runs the pre-tokenizer (``re.findall`` with
    the given pattern — :data:`GPT2_PRETOKENIZER_PATTERN` for the
    GPT-2 grain — or the whitespace split when ``None``) and, under
    ``byte_level``, maps each pre-token through the SAME
    :func:`gpt2_bytes_to_unicode` table the serving replay uses, so
    trained merges and served replay share one symbol space.  The
    kernel's broadcast handle rides back to the caller, who releases
    it once the table is materialized (a module-global registry let
    one caller unpersist another in-flight training's broadcast)."""
    src = df
    if sample_fraction is not None:
        src = src.sample(fraction=sample_fraction, seed=seed)
    if pre_tokenizer is None and not byte_level and special_pat is None:
        bc = None
        words = src.select(
            F.explode(
                F.split(F.col(text_col), WS_SPLIT_PATTERN_JVM)
            ).alias("w")
        ).where(F.col("w") != "")
    else:
        byte_enc = gpt2_bytes_to_unicode() if byte_level else None
        bc = df.sparkSession.sparkContext.broadcast(
            (pre_tokenizer, byte_enc, special_pat)
        )

        @F.pandas_udf("array<string>")
        def _ptoks(s: pd.Series) -> pd.Series:
            pat, enc, spat = bc.value
            split = (
                _WS_SPLIT.split if pat is None else re.compile(pat).findall
            )
            sre = re.compile(spat) if spat is not None else None

            def one(t):
                if t is None:
                    return []
                segs = [t] if sre is None else sre.split(t)
                toks = [w for seg in segs for w in split(seg) if w]
                if enc is not None:
                    toks = [
                        "".join(enc[b] for b in w.encode("utf-8"))
                        for w in toks
                    ]
                return toks

            return s.map(one)

        words = src.select(F.explode(_ptoks(F.col(text_col))).alias("w"))
    return words.groupBy("w").agg(F.count("*").alias("freq")), bc


def _char_symbols(words: DataFrame) -> DataFrame:
    """BPE's projection of the word table: ``(syms, freq)`` with each
    word split into its characters."""
    return words.select(
        F.expr("filter(split(w, ''), x -> x <> '')").alias("syms"), "freq"
    )


@contextmanager
def _checkpointed_words(
    project, df: DataFrame, text_col: str,
    sample_fraction: float | None, seed: int, **grain,
):
    """Build the :func:`_word_counts` table (``grain`` is its keyword
    arguments), apply the family's ``project``ion, checkpoint it
    eagerly — the ONE corpus scan of a training call — release the
    kernel broadcast (even when the checkpoint job fails), and yield
    the checkpoint, whose blocks are released on exit."""
    frame, bc = _word_counts(df, text_col, sample_fraction, seed, **grain)
    try:
        words = project(frame).localCheckpoint(eager=True)
    finally:
        if bc is not None:
            bc.unpersist()
    try:
        yield words
    finally:
        release_local_checkpoint(words)


def _check_train_specials(
    special_tokens, caller: str,
) -> tuple[list[str], str | None]:
    """Validate a TRAIN-side special-token list (texts only — ids are
    assigned by the vocabulary layout) and build the non-capturing
    protection pattern, longest first (the serve-side
    :func:`_compile_specials` rule minus the ids)."""
    if not special_tokens:
        return [], None
    texts = list(special_tokens)
    bad = [
        t for t in texts
        if not isinstance(t, str) or t == "" or _WS_SPLIT.search(t)
    ]
    if bad:
        raise ValueError(
            f"{caller}: {len(bad)} special-token texts are empty, "
            f"non-string, or whitespace-carrying (first: {bad[0]!r}) "
            "— the vocabulary contract cannot express them"
        )
    if len(set(texts)) != len(texts):
        raise ValueError(f"{caller}: duplicate special-token texts")
    pat = "(?:%s)" % "|".join(
        re.escape(t) for t in sorted(texts, key=len, reverse=True)
    )
    return texts, pat


def _check_train_grain(
    byte_level: bool, pre_tokenizer: str | None, caller: str,
) -> None:
    """Shared trainer-grain validation: a pre-tokenizer without
    byte-level would train whitespace-CARRYING symbols (GPT-2
    pre-tokens keep their leading space / whitespace runs), which the
    artifact contract rejects — the composition only round-trips
    through the byte encode, so require it."""
    if pre_tokenizer is not None and not byte_level:
        raise ValueError(
            f"{caller}: pre_tokenizer requires byte_level=True — "
            "pre-tokens carry whitespace, which only the byte encode "
            "maps into the whitespace-free symbol space the vocab/"
            "merges artifacts (and the serving kernels) require"
        )


def learn_bpe_merges(
    df: DataFrame, n_merges: int, text_col: str = "text",
    min_count: int = 2, sample_fraction: float | None = None,
    seed: int = 0,
    *, byte_level: bool = False, pre_tokenizer: str | None = None,
    special_tokens: list[str] | None = None,
) -> list[tuple[str, str, int]]:
    """TRAIN a BPE merges table on the corpus — the Sennrich
    learn-BPE loop at character grain with no end-of-word marker,
    matching what :func:`bpe_token_count_exact` serves: start from
    the per-word character sequence, and ``n_merges`` times pick the
    adjacent symbol pair with the highest corpus count (ties broken
    by the pair key ascending, so training is deterministic) and fuse
    all its occurrences left to right.  Returns ranked
    ``(left, right, corpus_pair_count)`` triples — feed
    ``[(a, b) for a, b, _ in ...]`` to :func:`merges_from_pairs` /
    :func:`save_bpe_merges` to persist the learned tokenizer, and the
    surviving symbols to :func:`vocab_from_tokens` for serving.

    Stops early when the best remaining pair's count falls below
    ``min_count`` (Sennrich's min-frequency guard; pass 1 to run all
    ``n_merges`` while any pair exists).

    Scale shape: ONE wide shuffle builds the distinct-word frequency
    table, checkpointed once (map-side combinable;
    ``sample_fraction`` bounds the scan when an approximate
    vocabulary is acceptable — the standard trade for web-scale
    training); the round loop (:func:`_learn_merges`) runs on the
    driver when the table fits, else as per-round jobs over the
    monotonically-SHRINKING table (fully-merged words drop out).
    Large vocabularies mean many sequential rounds — inherent to
    BPE's sequential dependence, same as any distributed trainer.

    ``byte_level`` / ``pre_tokenizer`` (r15, closing the r14 VERDICT's
    train-the-grain-you-serve gap): train in the SAME symbol space the
    published replay mode serves — the word table is built by running
    the serving pre-tokenizer (pass :data:`GPT2_PRETOKENIZER_PATTERN`
    for the GPT-2 grain) and the :func:`gpt2_bytes_to_unicode` encode
    over the corpus (:func:`_word_counts`), so the learned merges
    feed :func:`bpe_token_count_exact` / :func:`bpe_token_ids` with
    the same ``byte_level=True, pre_tokenizer=...`` arguments and
    replay EXACTLY as trained.  A pre-tokenizer without byte-level
    raises (pre-tokens carry whitespace; only the byte encode maps
    them into the artifact contract's whitespace-free symbol space).

    ``special_tokens``: their literal text is protected from training
    (see :func:`train_bpe_tokenizer`)."""
    _check_merge_args(n_merges, min_count, "learn_bpe_merges")
    _check_train_grain(byte_level, pre_tokenizer, "learn_bpe_merges")
    _sp_texts, sp_pat = _check_train_specials(
        special_tokens, "learn_bpe_merges"
    )
    with _checkpointed_words(
        _char_symbols, df, text_col, sample_fraction, seed,
        pre_tokenizer=pre_tokenizer, byte_level=byte_level,
        special_pat=sp_pat,
    ) as words:
        merges = _learn_merges(words, n_merges, min_count, False)
    return [(a, b, c) for a, b, _fused, c in merges]


def train_bpe_tokenizer(
    df: DataFrame, n_merges: int | None, vocab_path: str,
    merges_path: str,
    *, text_col: str = "text", min_count: int = 2,
    oov_tokens_per_char: float = 1.0,
    sample_fraction: float | None = None, seed: int = 0,
    max_chars: int = 100_000,
    vocab_size: int | None = None,
    byte_level: bool = False, pre_tokenizer: str | None = None,
    special_tokens: list[str] | None = None,
) -> tuple[DataFrame, dict[tuple[str, str], float]]:
    """Train → persist → serve in one call: run
    :func:`learn_bpe_merges` on the corpus, derive the serving
    vocabulary (the corpus's distinct in-word characters sorted by
    codepoint, then every merge output in rank order — the
    conventional base-alphabet-then-merges id layout, first
    occurrence kept when two merge chains produce the same string),
    persist BOTH artifacts through their save contracts, and return
    the reloaded ``(vocab frame, rank map)`` pair ready for
    :func:`bpe_token_count_exact` — so the artifacts on disk are
    exactly what was served, not a parallel in-memory state.

    The base alphabet is collected to the driver: it is the corpus's
    DISTINCT character set, bounded by Unicode itself, but a binary
    or adversarial corpus can still blow it up — ``max_chars``
    (default 100k) raises rather than silently truncating the vocab.
    The corpus is scanned ONCE: the checkpointed word-frequency table
    feeds both the trainer and the alphabet derivation (so with
    ``sample_fraction`` set they see the SAME sampled rows by
    construction, not two draws that merely share a seed).

    A re-learned pair is dropped, first rank wins: when two merge
    chains can produce the same symbol, a later training round can
    re-select a pair an earlier rank already covers — redundant at
    serving (the earlier-ranked rule fires on any re-created
    adjacency in the replay loop) and ILLEGAL in the artifact
    (duplicate pairs make the rank map ambiguous; the loaders
    raise).

    ``vocab_size`` (r14, exactly one of it or ``n_merges``): a TOTAL
    vocabulary budget — the merge count derives as ``vocab_size``
    minus the trained alphabet (the :func:`~wikiextractor_spark.
    functions.wordpiece.learn_wordpiece_vocab` budget rule; raises
    when the alphabet alone exceeds it).  The alphabet is the one
    collected from the SAME (sampled) word table the trainer reads,
    so the split is sampling-consistent and the final vocabulary is
    at most ``vocab_size`` by construction — never derived from a
    second full-corpus pass (r14 review).

    ``byte_level`` / ``pre_tokenizer`` (r15): train in the published
    byte-level symbol space (see :func:`learn_bpe_merges`).  The base
    alphabet is then ALL 256 encoded byte symbols sorted by codepoint
    — which IS the published byte-symbol id order, since
    :func:`gpt2_bytes_to_unicode` assigns codepoints ascending within
    each byte group — not the corpus's observed characters: full byte
    coverage is the published artifact layout, makes every text
    segmentable (OOV never fires), and lets :func:`bpe_decode_ids`
    round-trip exactly.  Serve the returned pair through
    :func:`bpe_token_count_exact` / :func:`bpe_token_ids` with the
    SAME ``byte_level=True, pre_tokenizer=...`` arguments.

    ``special_tokens`` (r15): reserved ADDED tokens (the published
    ``<|endoftext|>`` convention) — their literal text is PROTECTED
    from training (split out before pre-tokenization, contributing
    nothing to the pair statistics: a corpus containing engine
    output re-ingested as text must not train marker fragments), and
    they ride at the END of the id space (the published GPT-2
    layout), counted inside the ``vocab_size`` budget.  Serve with
    ``bpe_token_ids(special_tokens={text: id})`` using the ids the
    returned vocab assigns — and :func:`~wikiextractor_spark.
    operators.packing.assemble_packs`' ``sep_id`` takes the same id.
    Plain-grain training with specials routes through the Python
    kernel path (the JVM split cannot drop literal special text;
    stated cost)."""
    if (n_merges is None) == (vocab_size is None):
        raise ValueError(
            "train_bpe_tokenizer: pass exactly one of n_merges or "
            "vocab_size"
        )
    _check_merge_args(n_merges or 0, min_count, "train_bpe_tokenizer")
    _check_train_grain(byte_level, pre_tokenizer, "train_bpe_tokenizer")
    sp_texts, sp_pat = _check_train_specials(
        special_tokens, "train_bpe_tokenizer"
    )
    with _checkpointed_words(
        _char_symbols, df, text_col, sample_fraction, seed,
        pre_tokenizer=pre_tokenizer, byte_level=byte_level,
        special_pat=sp_pat,
    ) as words:
        if byte_level:
            # full byte coverage, never the observed corpus chars —
            # but an empty corpus must still raise (a silent 256-row
            # base vocab is a degenerate artifact nobody asked for)
            if not words.head(1):
                raise ValueError(
                    "train_bpe_tokenizer: the corpus has no words — "
                    "nothing to train on"
                )
            chars = sorted(gpt2_bytes_to_unicode().values())
        else:
            chars = sorted(
                r["c"]
                for r in words.select(F.explode("syms").alias("c"))
                .distinct()
                .collect()
            )
        if not chars:
            raise ValueError(
                "train_bpe_tokenizer: the corpus has no words — "
                "nothing to train on"
            )
        if len(chars) > max_chars:
            raise ValueError(
                f"train_bpe_tokenizer: {len(chars)} distinct "
                f"characters exceeds max_chars={max_chars} — a "
                "vocabulary this wide is almost certainly a "
                "binary/garbage corpus; filter first or raise "
                "max_chars explicitly"
            )
        if vocab_size is not None:
            n_merges = vocab_size - len(chars) - len(sp_texts)
            if n_merges < 0:
                raise ValueError(
                    f"train_bpe_tokenizer: the trained alphabet "
                    f"({len(chars)}) plus special tokens "
                    f"({len(sp_texts)}) exceed vocab_size "
                    f"{vocab_size} — truncating would silently drop "
                    "entries; raise vocab_size"
                )
        learned = _learn_merges(words, n_merges, min_count, False)
    pairs: list[tuple[str, str]] = []
    seen_pairs: set[tuple[str, str]] = set()
    for a, b, _fused, _cnt in learned:
        if (a, b) not in seen_pairs:
            seen_pairs.add((a, b))
            pairs.append((a, b))
    seen = set(chars)
    outputs = []
    for a, b in pairs:
        t = a + b
        if t not in seen:
            seen.add(t)
            outputs.append(t)
    # reserved specials ride at the END of the id space (the
    # published GPT-2 layout: <|endoftext|> is the LAST id) — their
    # text was protected from training, so a collision with a
    # trained entry means the corpus trained the special's literal
    # text as ordinary symbols through some other grain; refuse
    # rather than silently double-book the text (the exporter's
    # duplicate-text rule)
    collide = [t for t in sp_texts if t in seen]
    if collide:
        raise ValueError(
            f"train_bpe_tokenizer: special token {collide[0]!r} "
            "collides with a trained vocabulary entry"
        )
    spark = df.sparkSession
    save_bpe_vocab(
        vocab_from_tokens(
            spark, chars + outputs + sp_texts, oov_tokens_per_char
        ),
        vocab_path,
    )
    save_bpe_merges(merges_from_pairs(spark, pairs), merges_path)
    return (
        load_bpe_vocab(spark, vocab_path),
        load_bpe_merges(spark, merges_path),
    )


def _build_matcher(tokens: list[str]):
    """Greedy-longest-match probe structure: the vocab as a frozenset
    plus, per FIRST CHARACTER, the descending list of DISTINCT token
    lengths that occur with that first char (r11 — the kernel-constant
    fix).  At each position the old loop probed every length from
    ``max_len`` down to 1; any actual match must start with the
    position's character and have one of that character's lengths, so
    probing only those lengths (usually a handful instead of the
    global max) finds the SAME longest match with ~10× fewer
    substring-hash probes — bit-identical counts, pinned by the
    differential test against the naive loop."""
    vocab = frozenset(tokens)
    lens_by_first: dict[str, set[int]] = {}
    for t in tokens:
        lens_by_first.setdefault(t[0], set()).add(len(t))
    return vocab, {
        c: sorted(lens, reverse=True)
        for c, lens in lens_by_first.items()
    }


def _count_word(word: str, vocab: frozenset,
                lens_by_first: dict[str, list[int]],
                oov: float) -> float:
    total, i, n = 0.0, 0, len(word)
    while i < n:
        j = 0
        for ln in lens_by_first.get(word[i], ()):
            if ln <= n - i and word[i:i + ln] in vocab:
                total += 1.0
                j = i + ln
                break
        if not j:
            # no vocab token starts here, not even one char: charge
            # the OOV per-char cost and advance one character
            total += oov
            j = i + 1
        i = j
    return total


def bpe_token_count(
    df: DataFrame, vocab: DataFrame,
    text_col: str = "text", out_col: str = "n_tokens_bpe",
    *, special_tokens: dict[str, int] | None = None,
) -> DataFrame:
    """Attach ``out_col``: the text's token count under the imported
    vocabulary — whitespace pre-tokenization, then greedy
    longest-match per word, OOV characters charged at the artifact's
    ``oov_tokens_per_char``.  NULL text stays NULL.  The count is a
    DOUBLE (fractional OOV costs are legitimate); cast to long before
    integer-budget packing.

    ``special_tokens`` (r14, closing the greedy/exact asymmetry the
    r13 VERDICT flagged): literal ADDED-token text splits out BEFORE
    pre-tokenization and counts exactly 1.0 — the same contract as
    :func:`bpe_token_count_exact` and every other counting kernel, so
    a corpus containing literal ``<|endoftext|>`` budgets identically
    under the greedy and exact grains instead of silently diverging.
    The mapping's ids are unused by counting (they exist for the ids
    kernels' shared contract) but are validated identically.

    Feed the result to ``pack_sequences(..., token_col=out_col)`` or
    ``cap_group_tokens(..., token_col=out_col)`` to budget in model
    tokens instead of whitespace words.

    Per-Arrow-batch word memo (r11): corpus word frequency is
    Zipfian, so within one 10k-row batch the same surface forms recur
    thousands of times — counting each DISTINCT word once and summing
    cache hits cuts the Python kernel cost by the batch's dedup ratio
    (10-50× on natural text) with trivially bit-identical results.
    Bounded and batch-scoped: cleared if it ever reaches
    ``_WORD_CACHE_MAX`` entries (~26 MB worst case), dropped when the
    batch ends (:func:`_memoized_word_counter`, shared with the exact
    mode)."""
    tokens, oov, _rows = _vocab_tokens_and_oov(vocab, "bpe_token_count")
    spat, sids = _compile_specials(special_tokens, "bpe_token_count")
    vs, lens_by_first = _build_matcher(tokens)
    return _memoized_word_counter(
        df,
        partial(
            _count_word, vocab=vs, lens_by_first=lens_by_first, oov=oov
        ),
        out_col, text_col,
        special_pat=spat, special_ids=sids,
    )
