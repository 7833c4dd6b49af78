"""WordPiece (BERT-family) tokenizer serving: greedy
longest-match-first segmentation with ``##`` continuation pieces —
the third major published tokenizer family beside the engine's
merges-based BPE (:mod:`tokenizer`, GPT-class) and unigram-LM Viterbi
(:mod:`unigram`, Llama/T5-class), so pack budgets and id streams are
faithful for BERT-class encoders too.

Algorithm — the published ``WordpieceTokenizer.tokenize`` of BERT
(Devlin et al. 2018; google-research/bert ``tokenization.py``),
implemented verbatim per whitespace-split word:

* a word longer than ``max_input_chars_per_word`` becomes ONE
  ``unk_token`` (the published oversize rule — crawl blobs degrade to
  one UNK, they never abort the job, unlike the unigram kernel's
  raise-by-default bound which exists only for its tie-break packing);
* otherwise greedy: at each position take the LONGEST vocabulary
  match, where every piece after the first carries the ``##``
  continuation prefix; if NO piece matches at some position the WHOLE
  word collapses to one ``unk_token`` (sub-pieces already emitted are
  discarded — published behavior, not a drift);
* published quirk kept verbatim: at position 0 the candidate substring
  is tried RAW, so a ``##``-prefixed vocabulary entry can match a word
  that literally starts with ``##`` (pinned in
  ``tests/test_wordpiece.py``).

The upstream BasicTokenizer stage (lowercasing, accent stripping,
punctuation splitting) is intentionally OUT of this kernel — it is a
normalization choice that composes upstream (``lower(text)`` /
:mod:`normalize`), while this kernel is the vocabulary-dependent part;
serving runs at the engine-wide whitespace pre-tokenization grain
(the published WordpieceTokenizer itself whitespace-tokenizes its
input).

Artifact contract: rows ``(token string, token_id double)`` — NO
NULL-token scalar row, because WordPiece has no OOV *rate*: unknown
handling is the ``unk_token`` VOCABULARY entry's id (``[UNK]``, id 0
in the published layouts; the kernels raise if the vocab lacks it).
Import the published ``vocab.txt`` (one token per line, id = line
order) via :func:`load_wordpiece_vocab_txt`; engine-side persistence
is the parquet pair :func:`save_wordpiece_vocab` /
:func:`load_wordpiece_vocab` (the modelio single-file discipline).

Scale shape: the vocabulary is driver-sized (published BERT vocabs
are ~30k rows), shipped once per executor via the kernel broadcast;
counting/ids are ONE Arrow-batched pandas UDF with the per-batch
Zipfian word memo — exactly :func:`tokenizer._memoized_word_counter`,
shared so the cache policy, whitespace grain, special-token pre-split,
and NULL semantics cannot drift across the three tokenizer families.

No reference counterpart — engine extension (SURVEY.md §2.12)."""

from __future__ import annotations

import re
import unicodedata
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from wikiextractor_spark.functions.tokenizer import (
    _WS_SPLIT,
    _bad_tokens,
    _char_symbols,
    _check_merge_args,
    _check_train_specials,
    _checkpointed_words,
    _compile_specials,
    _fuse_wp,  # noqa: F401 (re-exported for callers and tests)
    # the published BasicTokenizer ``_is_punctuation`` is the SAME
    # class as the HF Punctuation pre-tokenizer's — one definition,
    # two published names (r16 review: two identical classifiers
    # would drift under a future Unicode fix)
    _is_hf_punct as _is_basic_punct,
    _learn_merges,
    _memoized_word_counter,
    _vocab_id_maps,
)

WORDPIECE_SCHEMA = "token string, token_id double"

#: the published default of google-research/bert's
#: WordpieceTokenizer (HuggingFace's BertTokenizer ships 100 — pass
#: it explicitly for HF-faithful budgets)
MAX_INPUT_CHARS_PER_WORD = 200


def wordpiece_from_tokens(spark, tokens: list[str]) -> DataFrame:
    """Build a WordPiece vocabulary frame from a plain token list —
    ids are the list positions, exactly the published vocab.txt rule.
    The test/bootstrap path; real artifacts come from
    :func:`load_wordpiece_vocab_txt` or the parquet round trip."""
    _check_tokens_shape(tokens, "wordpiece_from_tokens")
    rows = [(t, float(i)) for i, t in enumerate(tokens)]
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(spark, rows, WORDPIECE_SCHEMA)


def save_wordpiece_vocab(vocab: DataFrame, path: str) -> None:
    """Persist a WordPiece vocabulary as one parquet file
    (driver-sized; sibling of :func:`load_wordpiece_vocab`)."""
    from wikiextractor_spark.functions.modelio import write_one_file

    write_one_file(vocab.select("token", "token_id"), path)


def load_wordpiece_vocab(spark, path: str) -> DataFrame:
    """Load a parquet WordPiece vocabulary saved by
    :func:`save_wordpiece_vocab`: rows ``(token, token_id)``, no
    NULL-token row (WordPiece has no OOV scalar — a NULL token here
    is a corrupt artifact and raises).  Shape problems raise at load
    (the modelio malformed-values-raise discipline); id semantics
    (integral, non-negative, distinct) are enforced by the kernels'
    shared id-map construction."""
    rows = spark.read.parquet(path).select("token", "token_id")
    toks = [r["token"] for r in rows.collect()]
    if any(t is None for t in toks):
        raise ValueError(
            "load_wordpiece_vocab: NULL token row — WordPiece "
            "vocabularies carry no scalar row; fix the artifact"
        )
    _check_tokens_shape(toks, "load_wordpiece_vocab")
    return rows.localCheckpoint(eager=True)


def save_wordpiece_vocab_txt(spark, vocab: DataFrame, path: str) -> None:
    """Export a vocabulary in the PUBLISHED vocab.txt format — the
    exact inverse of :func:`load_wordpiece_vocab_txt` (r15): one
    token per line in id order, one trailing newline.  Line order IS
    the id on reimport, so the artifact's ids must be exactly
    ``0..n-1`` — gaps or an offset would silently renumber every
    token, so they raise instead; tokens that the published loader's
    ``strip()`` would alter (leading/trailing whitespace) are already
    banned by the vocabulary shape contract.  Round trip pinned by
    pytest: reimport returns an identical (token, id) mapping and a
    re-export is byte-identical.  FS-agnostic one-file write."""
    from wikiextractor_spark.functions.modelio import (
        write_one_text_file,
    )
    from wikiextractor_spark.functions.tokenizer import (
        _check_embedding_id,
    )

    rows = vocab.select("token", "token_id").collect()
    toks = [r["token"] for r in rows]
    if any(t is None for t in toks):
        raise ValueError(
            "save_wordpiece_vocab_txt: NULL token row — WordPiece "
            "vocabularies carry no scalar row; fix the artifact"
        )
    _check_tokens_shape(toks, "save_wordpiece_vocab_txt")
    by_id: dict[int, str] = {}
    for r in rows:
        i = _check_embedding_id(
            "save_wordpiece_vocab_txt", f"token {r['token']!r}",
            r["token_id"],
        )
        if i in by_id:
            raise ValueError(
                f"save_wordpiece_vocab_txt: duplicate id {i} — line "
                "order would be ambiguous; fix the artifact"
            )
        by_id[i] = r["token"]
    if sorted(by_id) != list(range(len(by_id))):
        missing = [i for i in range(len(by_id)) if i not in by_id][:1]
        raise ValueError(
            "save_wordpiece_vocab_txt: ids must be exactly 0..n-1 "
            f"(line order IS the id on reimport; first gap: "
            f"{missing[0] if missing else max(by_id)})"
        )
    write_one_text_file(
        spark,
        "\n".join(by_id[i] for i in range(len(by_id))) + "\n",
        path,
    )


def load_wordpiece_vocab_txt(spark, path: str) -> DataFrame:
    """Import a vocabulary in the PUBLISHED vocab.txt format of
    BERT-class tokenizers: one token per line, id = line order
    (``convert_to_unicode(line).strip()`` in the published loader —
    so surrounding whitespace is stripped here too, and a line that
    is empty AFTER stripping raises rather than minting an
    unmatchable empty token; published files contain none, and a
    blank line would silently shift every later id).  Duplicate
    tokens raise (ids would be ambiguous).  Returns the engine's
    vocabulary frame, materialized (the artifact outlives its
    source file exactly like the other published-format imports)."""
    from wikiextractor_spark.functions.tokenizer import (
        _whole_text_artifact,
    )

    text = _whole_text_artifact(spark, path, "load_wordpiece_vocab_txt")
    # split on '\n' ONLY (the published reader's line grain —
    # readline + strip, which also eats a '\r' of CRLF files):
    # splitlines() would additionally break on U+0085/U+2028/U+2029,
    # silently splitting a token that legally contains one and
    # shifting every later id (r13 review)
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # the published files end with one newline
    toks: list[str] = []
    bad: list[str] = []
    for lineno, line in enumerate(lines):
        t = line.strip()
        if not t:
            bad.append(f"line {lineno + 1}: empty")
            continue
        toks.append(t)
    if bad:
        raise ValueError(
            f"load_wordpiece_vocab_txt: {len(bad)} empty lines "
            f"(first: {bad[0]}) — every vocab.txt line must carry a "
            "token; a blank line would shift all later ids"
        )
    if not toks:
        raise ValueError(
            f"load_wordpiece_vocab_txt: no tokens in {path!r}"
        )
    _check_tokens_shape(toks, "load_wordpiece_vocab_txt")
    rows = [(t, float(i)) for i, t in enumerate(toks)]
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(spark, rows, WORDPIECE_SCHEMA)


def _check_tokens_shape(tokens: list[str], caller: str) -> None:
    """Shared vocabulary shape validation: non-empty, whitespace-free
    (the engine's pre-tokenization argument — such entries can never
    match), distinct."""
    bad = _bad_tokens(tokens)
    if bad:
        raise ValueError(
            f"{caller}: {len(bad)} empty or whitespace-carrying "
            f"tokens (first: {bad[0]!r}) — such entries can never "
            "match under whitespace pre-tokenization"
        )
    if len(set(tokens)) != len(tokens):
        raise ValueError(f"{caller}: duplicate tokens in the artifact")


def _wp_ids_word(
    word: str, tok2id: dict[str, int], max_chars: int, unk_id: int,
) -> list[int]:
    """One word → its WordPiece id sequence, the published greedy
    longest-match-first loop verbatim (see module docstring)."""
    n = len(word)
    if n > max_chars:
        return [unk_id]
    out: list[int] = []
    start = 0
    while start < n:
        end = n
        cur = None
        while start < end:
            sub = word[start:end]
            if start > 0:
                sub = "##" + sub
            tid = tok2id.get(sub)
            if tid is not None:
                cur = tid
                break
            end -= 1
        if cur is None:
            return [unk_id]
        out.append(cur)
        start = end
    return out


def _wp_count_word(
    word: str, tok2id: dict[str, int], max_chars: int, unk_id: int,
) -> float:
    """Token count of one word — len() of the ids walk, one shared
    body so count and ids cannot drift."""
    return float(len(_wp_ids_word(word, tok2id, max_chars, unk_id)))


def _wp_kernel_args(
    vocab: DataFrame, unk_token: str, max_input_chars_per_word,
    special_tokens, caller: str,
):
    """Shared argument validation for the two kernels: vocabulary
    shape + id map (through the engine-wide
    :func:`tokenizer._vocab_id_maps` policy home), the unk token's
    id, the oversize bound, and the special-token pre-split."""
    rows = vocab.select("token", "token_id").collect()
    toks = [r["token"] for r in rows]
    if any(t is None for t in toks):
        raise ValueError(
            f"{caller}: NULL token row — WordPiece vocabularies "
            "carry no scalar row; load through load_wordpiece_vocab"
        )
    _check_tokens_shape(toks, caller)
    spat, sids = _compile_specials(special_tokens, caller)
    tok2id, _id2tok, _rev = _vocab_id_maps(rows, sids, caller)
    unk_id = tok2id.get(unk_token)
    if unk_id is None:
        raise ValueError(
            f"{caller}: unk_token {unk_token!r} is not in the "
            "vocabulary — WordPiece cannot represent unknown words "
            "without it; fix the artifact or pass the right unk_token"
        )
    if (
        isinstance(max_input_chars_per_word, bool)
        or not isinstance(max_input_chars_per_word, int)
        or max_input_chars_per_word < 1
    ):
        raise ValueError(
            f"{caller}: max_input_chars_per_word must be a positive "
            f"int, got {max_input_chars_per_word!r}"
        )
    return tok2id, unk_id, spat, sids


def wordpiece_token_ids(
    df: DataFrame, vocab: DataFrame,
    text_col: str = "text", out_col: str = "token_ids",
    *, unk_token: str = "[UNK]",
    max_input_chars_per_word: int = MAX_INPUT_CHARS_PER_WORD,
    special_tokens: dict[str, int] | None = None,
    _segment_transform=None,
) -> DataFrame:
    """Attach ``out_col``: the text TOKENIZED to an ``array<long>``
    of WordPiece ids — the BERT-family sibling of
    :func:`tokenizer.bpe_token_ids` /
    :func:`unigram.unigram_token_ids`, feeding
    :func:`~wikiextractor_spark.operators.packing.assemble_packs`
    with streams segmented the way BERT-class tokenizers actually
    serve.  Unknown or oversize words emit the ``unk_token``
    vocabulary id (NOT the -1 sentinel — ``[UNK]`` is a real
    embedding row in the published layouts), so every emitted id
    indexes the embedding table.  NULL text stays NULL;
    ``special_tokens`` text splits out before pre-tokenization and
    emits its reserved id, exactly as everywhere else (``[CLS]`` /
    ``[SEP]`` sentence framing is a downstream assembly concern, not
    a text-tokenization one)."""
    tok2id, unk_id, spat, sids = _wp_kernel_args(
        vocab, unk_token, max_input_chars_per_word, special_tokens,
        "wordpiece_token_ids",
    )
    return _memoized_word_counter(
        df,
        partial(
            _wp_ids_word, tok2id=tok2id,
            max_chars=max_input_chars_per_word, unk_id=unk_id,
        ),
        out_col, text_col,
        result_type="array<long>", list_mode=True,
        special_pat=spat, special_ids=sids,
        segment_transform=_segment_transform,
    )


def wordpiece_token_count(
    df: DataFrame, vocab: DataFrame,
    text_col: str = "text", out_col: str = "n_tokens_wordpiece",
    *, unk_token: str = "[UNK]",
    max_input_chars_per_word: int = MAX_INPUT_CHARS_PER_WORD,
    special_tokens: dict[str, int] | None = None,
) -> DataFrame:
    """Attach ``out_col``: the text's WordPiece token count (unknown
    and oversize words count exactly 1 — they serve as one
    ``unk_token``).  A DOUBLE for frame-contract consistency with the
    other counting kernels (values are exact integers; cast to long
    before integer-budget packing).  ``size(token_ids)`` of
    :func:`wordpiece_token_ids` equals this count by construction —
    one shared per-word body — pinned in pytest."""
    tok2id, unk_id, spat, sids = _wp_kernel_args(
        vocab, unk_token, max_input_chars_per_word, special_tokens,
        "wordpiece_token_count",
    )
    return _memoized_word_counter(
        df,
        partial(
            _wp_count_word, tok2id=tok2id,
            max_chars=max_input_chars_per_word, unk_id=unk_id,
        ),
        out_col, text_col,
        special_pat=spat, special_ids=sids,
    )


#: the published WordPiece decoder ``cleanup`` replace chain
#: (huggingface/tokenizers ``decoders::wordpiece::cleanup``, applied
#: in exactly this order): tokenization artifacts like ``" ."`` and
#: ``" n't"`` fold back onto the preceding token.
_WP_CLEANUP = (
    (" .", "."), (" ?", "?"), (" !", "!"), (" ,", ","),
    (" ' ", "' "), (" n't", "n't"), (" 'm", "'m"), (" 's", "'s"),
    (" 've", "'ve"), (" 're", "'re"),
)


def _wp_decode_one(ids, id2tok: dict[int, str],
                   rev_special: dict[int, str],
                   cleanup: bool = False):
    """Decode one WordPiece id stream — the published
    ``convert_tokens_to_string`` rule verbatim:
    ``" ".join(tokens).replace(" ##", "")``, then (``cleanup=True``,
    r16) the published decoder cleanup chain (:data:`_WP_CLEANUP` in
    order — the ``cleanup: true`` every stock BERT ``tokenizer.json``
    decoder carries).  Specials emit their marker text as one token;
    an id outside vocab/specials raises (WordPiece streams carry no
    -1 sentinel — unknowns are the ``unk_token``'s real vocab id)."""
    if ids is None:
        return None
    toks: list[str] = []
    for i in ids:
        sp = rev_special.get(i)
        if sp is not None:
            toks.append(sp)
            continue
        t = id2tok.get(i)
        if t is None:
            raise ValueError(
                f"wordpiece_decode_ids: id {i} is neither a vocab id "
                "nor a registered special token — sentinel ids "
                "(separators, FIM markers) must be declared in "
                "special_tokens"
            )
        toks.append(t)
    out = " ".join(toks).replace(" ##", "")
    if cleanup:
        for frm, to in _WP_CLEANUP:
            out = out.replace(frm, to)
    return out


def wordpiece_decode_ids(
    df: DataFrame, vocab: DataFrame,
    ids_col: str = "token_ids", out_col: str = "text",
    *, special_tokens: dict[str, int] | None = None,
    cleanup: bool = False,
) -> DataFrame:
    """Attach ``out_col``: the id stream DECODED back to text — the
    inverse adapter of :func:`wordpiece_token_ids` (the published
    ``" ".join(tokens).replace(" ##", "")`` detokenization), for
    inspecting packed/augmented BERT-class sequences.  Lossy by
    design where the published rule is: unknown words decode to the
    ``unk_token`` text, and inter-word whitespace runs decode to one
    space (stated; ``decode(encode(x)) == x`` holds exactly for
    single-spaced fully-in-vocab text, pinned by pytest).
    ``cleanup`` (r16): apply the published decoder cleanup chain
    after the join — the ``cleanup: true`` every stock BERT
    ``tokenizer.json`` decoder carries (lossy on text that
    legitimately contains the artifacts, exactly as published;
    default off, the engine's artifact-faithful join).  NULL
    streams stay NULL.  Scale shape: broadcast id→token map, one
    Arrow-batched kernel, no shuffle."""
    rows = vocab.select("token", "token_id").collect()
    toks = [r["token"] for r in rows]
    if any(t is None for t in toks):
        raise ValueError(
            "wordpiece_decode_ids: NULL token row — WordPiece "
            "vocabularies carry no scalar row; load through "
            "load_wordpiece_vocab"
        )
    _check_tokens_shape(toks, "wordpiece_decode_ids")
    _spat, sids = _compile_specials(special_tokens, "wordpiece_decode_ids")
    _tok2id, id2tok, rev_special = _vocab_id_maps(
        rows, sids, "wordpiece_decode_ids"
    )
    bc = df.sparkSession.sparkContext.broadcast(
        (id2tok, rev_special, bool(cleanup))
    )

    @F.pandas_udf("string")
    def _decode(s: pd.Series) -> pd.Series:
        i2t, rsp, cu = bc.value
        return s.map(lambda ids: _wp_decode_one(ids, i2t, rsp, cu))

    return df.withColumn(out_col, _decode(F.col(ids_col)))


# --------------------------------------------------------------------------
# BasicTokenizer: the published BERT normalization stage
# --------------------------------------------------------------------------

#: the published ``_is_punctuation`` class: the four ASCII ranges
#: (which include $ + < = > ^ ` | ~ — NOT Unicode P, treated as
#: punctuation "for consistency" per the published comment) plus the
#: Unicode P categories.  \\p{P} category data may differ between the
#: JVM and other engines by Unicode version — exotic-punctuation
#: edges are a stated caveat (the GPT-2 \\p{L}/\\p{N} discipline);
#: ASCII behavior is version-stable.
BASIC_PUNCT_CLASS = r"[!-/:-@\[-`{-~]|\p{P}"

#: the published ``_tokenize_chinese_chars`` CJK ranges (BERT's
#: BasicTokenizer, verbatim): the CJK Unified Ideographs blocks +
#: extensions A-E + the two compatibility blocks.  NOTE the
#: compatibility ideographs (F900-FAFF, 2F800-2FA1F) are NFD
#: singletons — under ``do_strip_accents`` they canonicalize to
#: their unified forms, exactly as the published per-token
#: ``_run_strip_accents`` does.
BASIC_CJK_CLASS = (
    "[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}"
    "\\x{20000}-\\x{2A6DF}\\x{2A700}-\\x{2B73F}"
    "\\x{2B740}-\\x{2B81F}\\x{2B820}-\\x{2CEAF}"
    "\\x{F900}-\\x{FAFF}\\x{2F800}-\\x{2FA1F}]"
)

#: ``_clean_text``'s whitespace class: " \t\n\r" plus Zs — NOTE
#: \x0b/\f are NOT whitespace in the published class (they are Cc →
#: removed as controls)
_BASIC_CLEAN_WS = "[\\t\\n\\r\\p{Zs}]"
#: ``_clean_text``'s removal class: NUL, U+FFFD, and every C*
#: category char (after the \t\n\r carve-out above has already
#: become a space).  \p{Cn} membership may differ across Unicode
#: table versions (JVM vs Python vs RE2) — the stated \p{P}-style
#: version caveat; ASCII and assigned-plane behavior is stable.
_BASIC_CLEAN_DROP = (
    "[\\x00�\\p{Cc}\\p{Cf}\\p{Co}\\p{Cs}\\p{Cn}]"
)


def basic_tokenize_text(
    col, *, lower: bool = True, do_strip_accents: bool = True,
    clean_text: bool = True, handle_chinese_chars: bool = True,
) -> "F.Column":
    """``col`` through the published BERT ``BasicTokenizer`` chain,
    returning the single-space-joined token string (feed it to
    :func:`wordpiece_token_ids` for end-to-end published BERT
    tokenization): ``_clean_text`` (whitespace classes fold to one
    space; NUL/U+FFFD/control-format chars drop — r16, previously a
    stated divergence) → ``_tokenize_chinese_chars`` (every CJK
    ideograph spaces into its own token — r16, same) → whitespace
    fold → lowercase → accent strip (NFD + drop combining marks,
    exactly the published ``_run_strip_accents``) → split every
    punctuation character into its own token
    (``_run_split_on_punc``) → re-join single-spaced.  The accent
    strip is the one Python (Arrow-kernel) step — everything else is
    native regexp work inside codegen.

    ``clean_text=True`` / ``handle_chinese_chars=True`` are the
    published class defaults; pass False to reproduce a
    ``BertNormalizer`` block that switches them off.  ``lower=False``
    with ``do_strip_accents=False`` reproduces the published
    cased-model configuration (accent stripping rides the lower-case
    flag in the original; the two are independent here, matching the
    later published interface)."""
    from wikiextractor_spark.functions.normalize import strip_accents

    c = F.col(col) if isinstance(col, str) else col
    if clean_text:
        # \t\n\r (+ Zs) become spaces FIRST, so the control-class
        # removal below only ever sees true controls (\x0b, \f, ZWSP
        # and friends — dropped, the published per-char rule)
        c = F.regexp_replace(c, _BASIC_CLEAN_WS, " ")
        c = F.regexp_replace(c, _BASIC_CLEAN_DROP, "")
    if handle_chinese_chars:
        c = F.regexp_replace(c, f"({BASIC_CJK_CLASS})", " $1 ")
    c = F.regexp_replace(c, "[ \t\n\r\f\v]+", " ")
    if lower:
        c = F.lower(c)
    if do_strip_accents:
        c = strip_accents(c)
    # the JVM replacement dialect is $1 (the oracle restates with its
    # own \1 dialect — the two never share this literal)
    c = F.regexp_replace(c, f"({BASIC_PUNCT_CLASS})", " $1 ")
    return F.btrim(F.regexp_replace(c, "[ \t\n\r\f\v]+", " "))


_BASIC_WS_RE = re.compile("[ \t\n\r\f\v]+")


# _is_basic_punct (the published BasicTokenizer ``_is_punctuation``,
# the Python statement of :data:`BASIC_PUNCT_CLASS`) is imported at
# the top as an alias of tokenizer._is_hf_punct — one class, two
# published names.


#: the published CJK ranges as (lo, hi) pairs — the Python twin of
#: :data:`BASIC_CJK_CLASS`
_CJK_RANGES = (
    (0x4E00, 0x9FFF), (0x3400, 0x4DBF), (0x20000, 0x2A6DF),
    (0x2A700, 0x2B73F), (0x2B740, 0x2B81F), (0x2B820, 0x2CEAF),
    (0xF900, 0xFAFF), (0x2F800, 0x2FA1F),
)


def _is_cjk_char(ch: str) -> bool:
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in _CJK_RANGES)


def _clean_text_one(t: str) -> str:
    """The published ``_clean_text``, per char: NUL / U+FFFD /
    control-or-format (category C*, with \\t \\n \\r carved out as
    whitespace) drop; whitespace (" \\t\\n\\r" + Zs) becomes one
    space; everything else passes."""
    out = []
    for c in t:
        if c in "\t\n\r":
            out.append(" ")
            continue
        if c == " ":
            out.append(c)
            continue
        cat = unicodedata.category(c)
        if c in ("\x00", "�") or cat.startswith("C"):
            continue
        out.append(" " if cat == "Zs" else c)
    return "".join(out)


def basic_tokenize_one(
    t: str, lower: bool = True, do_strip_accents: bool = True,
    clean_text: bool = True, handle_chinese_chars: bool = True,
) -> str:
    """The Python twin of :func:`basic_tokenize_text` — same chain
    (clean → CJK spacing → whitespace fold → lowercase → accent
    strip → punctuation split → single-space rejoin), per string,
    equality with the native Column pinned by pytest over
    case/accent/punct/CJK/control adversaria.  Exists for the kernel
    ``segment_transform`` path (r15): when added tokens must split
    from the RAW text before normalization (the published order),
    the normalization has to run INSIDE the kernel per segment,
    where a Column cannot reach."""
    from wikiextractor_spark.functions.normalize import (
        _strip_accents_one,
    )

    if clean_text:
        t = _clean_text_one(t)
    if handle_chinese_chars:
        t = "".join(
            f" {c} " if _is_cjk_char(c) else c for c in t
        )
    t = _BASIC_WS_RE.sub(" ", t)
    if lower:
        t = t.lower()
    if do_strip_accents:
        t = _strip_accents_one(t)
    t = "".join(
        f" {c} " if _is_basic_punct(c) else c for c in t
    )
    return _BASIC_WS_RE.sub(" ", t).strip()


# --------------------------------------------------------------------------
# In-engine WordPiece vocabulary training
# --------------------------------------------------------------------------

def _wp_symbols(words: DataFrame) -> DataFrame:
    """WordPiece's projection of the word table: the word's characters
    with every piece after the first ``##``-marked."""
    return _char_symbols(words).select(
        F.expr(
            "transform(syms, (x, i) -> "
            "CASE WHEN i = 0 THEN x ELSE '##' || x END)"
        ).alias("syms"),
        "freq",
    )


def _wp_words(
    df, text_col, sample_fraction, seed, basic_tokenize, special_tokens,
    caller,
):
    """``(special texts, checkpointed word table)`` at the WordPiece
    grain — :func:`tokenizer._checkpointed_words` with the ``##``
    projection.  ``basic_tokenize`` (r15) runs the text through
    :func:`basic_tokenize_text` FIRST (one extra native projection
    plus the accent-strip Arrow kernel), so training sees exactly the
    grain ``--basic-tokenize`` serving normalizes to.  Protected
    specials with ``basic_tokenize`` raise: the BasicTokenizer
    punctuation split would MANGLE the literal special texts before
    the protection could see them."""
    sp_texts, sp_pat = _check_train_specials(special_tokens, caller)
    if sp_pat is not None and basic_tokenize:
        raise ValueError(
            f"{caller}: special_tokens with basic_tokenize is not "
            "supported — the BasicTokenizer punctuation split would "
            "mangle the literal special texts before the protection "
            "runs; strip the specials upstream or train raw-grain"
        )
    if basic_tokenize:
        df = df.select(basic_tokenize_text(text_col).alias(text_col))
    return sp_texts, _checkpointed_words(
        _wp_symbols, df, text_col, sample_fraction, seed,
        special_pat=sp_pat,
    )


def learn_wordpiece_merges(
    df: DataFrame, n_merges: int, text_col: str = "text",
    min_count: int = 2, sample_fraction: float | None = None,
    seed: int = 0,
    *, basic_tokenize: bool = False,
    special_tokens: list[str] | None = None,
) -> list[tuple[str, str, str, int]]:
    """TRAIN WordPiece merges on the corpus — the published
    likelihood-scored rule (Schuster & Nakajima 2012, as implemented
    by the HF WordPiece trainer): per round pick the adjacent pair
    maximizing ``count(a,b) / (count(a) · count(b))`` — pair count
    normalized by both sides' unigram counts, so training prefers
    pairs whose parts rarely occur apart, unlike BPE's raw-count
    argmax — and fuse all its occurrences left to right with the
    right side's ``##`` marker absorbed.  Symbol denominators count
    over the FULL word table (single-character words and words fully
    merged in earlier rounds keep contributing to their token's
    frequency — the published HF trainer's convention; r13 ADVICE
    caught the active-table draft diverging from it).  Ties on the
    score break by the pair key ascending (a stated engine
    convention — the published trainer's tie order is
    container-insertion-dependent); the score is evaluated as two
    IEEE double divisions ``cnt / count(a) / count(b)`` — never the
    integer product ``count(a)·count(b)``, which overflows a long
    once symbol frequencies pass ~3e9 at corpus scale (r13 ADVICE) —
    so both divisions are exact-input IEEE ops, identical on any
    engine, with the usual double-rounding caveat for counts past
    2^53.  ``min_count`` is a SELECTION FILTER, not a stop: pairs
    below the raw-count threshold are excluded from the argmax (the
    published min-frequency guard — under likelihood scoring a
    count-1 pair of unique characters scores a perfect 1.0 and would
    otherwise dominate every round; one rare-unicode bigram must not
    halt training, r13 review), and training stops only when NO
    eligible pair remains.

    Returns ``(left, right, fused, corpus_pair_count)`` — feed the
    fused tokens plus the alphabet to :func:`wordpiece_from_tokens`
    for serving (:func:`learn_wordpiece_vocab` composes exactly
    that).

    ``basic_tokenize`` (r15, closing the train/serve grain mismatch
    the CLI help warned about): train over
    :func:`basic_tokenize_text`-normalized text — the grain
    ``wordpiece_token_ids`` sees under the published uncased
    pipeline — so a trained artifact serves faithfully with
    ``--basic-tokenize`` instead of UNKing every cased/punctuated
    word.

    ``special_tokens`` (r15, the BPE trainer's protection on this
    family): the literal texts are PROTECTED from training — split
    out before the word split, contributing nothing to the pair or
    symbol statistics (a corpus containing engine output re-ingested
    as text must not train marker fragments).  Mutually exclusive
    with ``basic_tokenize`` (the punctuation split would mangle the
    literal texts before the protection could see them —
    pre-normalize specials out upstream if both are needed).  Id
    RESERVATION is the vocabulary builder's job
    (:func:`learn_wordpiece_vocab` places them FIRST, the published
    BERT-trainer layout).

    Scale shape: the :func:`~wikiextractor_spark.functions.tokenizer.
    learn_bpe_merges` discipline — one checkpointed distinct-word
    shuffle up front and the shared round loop
    (:func:`tokenizer._learn_merges`); distributed, each round runs
    two map-side-combined aggregations over the full distinct-word
    table (pair counts + symbol counts, joined driver-broadcast
    small; retired single-symbol words contribute no pairs and their
    merge pass is a no-op fold, so keeping them costs one narrow
    native scan per round — the price of the published
    denominator)."""
    _check_merge_args(n_merges, min_count, "learn_wordpiece_merges")
    _sp_texts, table = _wp_words(
        df, text_col, sample_fraction, seed, basic_tokenize,
        special_tokens, "learn_wordpiece_merges",
    )
    with table as words:
        return _learn_merges(words, n_merges, min_count, True)


def learn_wordpiece_vocab(
    df: DataFrame, vocab_size: int, text_col: str = "text",
    unk_token: str = "[UNK]", min_count: int = 2,
    sample_fraction: float | None = None, seed: int = 0,
    *, basic_tokenize: bool = False,
    special_tokens: list[str] | None = None,
) -> list[str]:
    """TRAIN a complete serving vocabulary (``basic_tokenize``
    trains the published uncased grain — see
    :func:`learn_wordpiece_merges`; the ONE checkpointed word table
    feeds both the alphabet and the merges, so the grain cannot
    drift between them): ``unk_token`` at id 0
    (the published layout), the corpus ALPHABET sorted (every bare
    first-character and ``##``-marked continuation character — the
    coverage floor that keeps serving's whole-word-UNK collapse to
    genuinely novel characters), then learned merge outputs in
    creation order, up to ``vocab_size`` entries total.  Raises when
    the alphabet alone exceeds the budget (truncating it would
    silently UNK entire character classes).  Feed the returned list
    straight to :func:`wordpiece_from_tokens` (pytest pins the full
    train→serve round trip).

    ``special_tokens`` (r15): reserved tokens at the FRONT of the id
    space in caller order — the published HF WordPiece-trainer
    layout (``[PAD], [UNK], [CLS], [SEP], [MASK]`` at ids 0..4) —
    their literal texts PROTECTED from training (see
    :func:`learn_wordpiece_merges`) and counted inside the
    ``vocab_size`` budget.  ``unk_token`` keeps its role as the
    serving OOV entry: when it appears in ``special_tokens`` its id
    is its list position; otherwise it rides directly after the
    specials (the r14 layout with an offset).  A special whose text
    equals an alphabet character is the character's reservation (it
    moves to the front, not duplicated); a trained MERGE output
    colliding with a special's text refuses (the
    :func:`~wikiextractor_spark.functions.tokenizer.
    train_bpe_tokenizer` rule — the corpus trained the literal text
    through some other grain, and double-booking would be silent).
    Mutually exclusive with ``basic_tokenize`` (same reason as the
    merges trainer)."""
    if vocab_size < 1:
        raise ValueError(
            f"learn_wordpiece_vocab: vocab_size must be >= 1, got "
            f"{vocab_size}"
        )
    _check_merge_args(0, min_count, "learn_wordpiece_vocab")
    sp_texts, table = _wp_words(
        df, text_col, sample_fraction, seed, basic_tokenize,
        special_tokens, "learn_wordpiece_vocab",
    )
    with table as words:
        alphabet = sorted(
            r["s"]
            for r in words.select(
                F.explode("syms").alias("s")
            ).distinct().collect()
        )
        # specials FIRST in caller order (the published trainer
        # layout), then the unk entry unless it IS one of them, then
        # the alphabet minus anything already placed
        head = list(sp_texts)
        if unk_token not in head:
            head.append(unk_token)
        placed = set(head)
        head += [t for t in alphabet if t not in placed]
        if vocab_size < len(head):
            raise ValueError(
                f"learn_wordpiece_vocab: the alphabet needs "
                f"{len(head)} entries (incl. reserved specials and "
                f"the unk entry) but vocab_size is {vocab_size} — "
                "truncating would silently UNK whole character "
                "classes; raise vocab_size"
            )
        merges = _learn_merges(
            words, vocab_size - len(head), min_count, True
        )
    collide = sorted({f for _a, _b, f, _c in merges} & set(sp_texts))
    if collide:
        raise ValueError(
            f"learn_wordpiece_vocab: special token "
            f"{collide[0]!r} collides with a trained vocabulary "
            "entry — the corpus trained the literal text through "
            "some other grain; pick different special texts"
        )
    # first occurrence wins (the train_bpe_tokenizer dedup
    # discipline): a fused token can collide with an alphabet entry or
    # an earlier merge when words literally carry the '##' marker or a
    # later fuse re-creates an earlier pair — the serving artifact
    # must stay duplicate-free (wordpiece_from_tokens raises on
    # duplicates), so the result may come out shorter than
    # vocab_size (stated)
    seen = set(head)
    out = list(head)
    for _a, _b, f, _c in merges:
        if f not in seen:
            seen.add(f)
            out.append(f)
    return out
