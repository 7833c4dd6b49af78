"""Unigram-LM (SentencePiece-style) tokenizer serving: Viterbi
segmentation over an imported token→logprob table, counting tokens
for pack budgeting the way Llama/T5-class tokenizers actually
segment.

The engine's BPE surface (greedy longest-match, exact merges replay,
byte-level GPT-2 grain — :mod:`tokenizer`) covers GPT-class models;
unigram-LM tokenizers are a different algorithm entirely: each vocab
token carries a log probability and serving picks the segmentation
MAXIMIZING the total logprob (Viterbi over word positions), not a
replay of learned merges.  Without this, ``pack_sequences`` budgets
are only faithful for merges-based tokenizers (r12 VERDICT, What's
missing #3).

Artifact contract: the shared :mod:`modelio` keyed-table shape —
``(token string, logprob double)`` rows plus exactly one NULL-token
row carrying ``unk_logprob``, the score charged per UNKNOWN character
— one whose single-character form is ABSENT from the vocabulary; a
character the vocab covers always scores through its own token, never
the unk rate (the real serving rule — r13 review caught the draft
allowing a high unk_logprob to beat known singletons).  Each unknown
character becomes ONE unk token; SentencePiece fuses consecutive
unknowns into a single unk piece — a stated divergence, chosen so the
count composes per character and the battery oracle can restate it
exactly.  Tokens must be non-empty and whitespace-free
(whitespace pre-tokenization, the same portable ASCII class as the
BPE kernels).

Determinism: scores are quantized to integer MICRO-units (1e-6 grain,
sign-aware half-away-from-zero) at kernel build, and the DP maximizes
the single integer ``score_micro * _TIE_BASE - n_tokens`` — so ties
on score resolve to the FEWEST tokens, bit-identically on any
platform and restatable in integer SQL (the engine discipline for
transcendentals crossing the oracle boundary).  Two segmentations
tied on both score and token count yield the same count, so the
count column is well-defined without further tie-breaking.

Scale shape: the table is driver-sized (sub-100k rows), shipped once
per executor via the counting kernel's broadcast; counting is ONE
Arrow-batched pandas UDF with the per-batch Zipfian word memo —
exactly :func:`tokenizer._memoized_word_counter`, shared so the cache
policy, whitespace grain, and NULL semantics cannot drift from the
BPE kernels.

No reference counterpart — engine extension (SURVEY.md §2.12); the
algorithm is the published unigram-LM serving rule (Kudo 2018,
"Subword Regularization", Viterbi decoding).
"""

from __future__ import annotations

import math
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from wikiextractor_spark.functions.tokenizer import (
    _WS_SPLIT,
    _bad_tokens,
    _check_train_specials,
    _checkpointed_words,
    _memoized_word_counter,
    _word_counts,
)

UNIGRAM_SCHEMA = "token string, logprob double"

# tie-break base: the DP maximizes score_micro * _TIE_BASE - n_tokens,
# one integer packing (max score, then min tokens) — decodable because
# n_tokens <= word length < _TIE_BASE (enforced; a >=1024-char single
# WORD under whitespace pre-tokenization is pathological input, and
# raising beats silently mis-decoding the count)
_TIE_BASE = 1024


def _quantize_micro(x: float) -> int:
    """logprob double → integer micro-units, sign-aware
    half-away-from-zero (Python's round() is half-to-even and DuckDB's
    ROUND is half-away — this is the one rounding both sides of the
    oracle can restate; see the engine's quantization discipline)."""
    m = math.floor(abs(x) * 1e6 + 0.5)
    return -m if x < 0 else m


def unigram_from_tokens(
    spark, logprobs: dict[str, float], unk_logprob: float,
) -> DataFrame:
    """Build a unigram-LM artifact frame from a ``{token: logprob}``
    mapping plus the NULL-token unk row — the test/bootstrap path;
    real artifacts come from :func:`save_unigram_lm` /
    :func:`load_unigram_lm`."""
    bad = _bad_tokens(logprobs)
    if bad:
        raise ValueError(
            f"unigram_from_tokens: {len(bad)} empty or "
            f"whitespace-carrying tokens (first: {bad[0]!r}) — such "
            "entries can never match under whitespace pre-tokenization"
        )
    bad_lp = [
        t for t, v in logprobs.items()
        if isinstance(v, bool)
        or not isinstance(v, (int, float))
        or not math.isfinite(v)
    ]
    if bad_lp:
        raise ValueError(
            f"unigram_from_tokens: {len(bad_lp)} non-numeric or "
            f"non-finite logprobs (first token: {bad_lp[0]!r})"
        )
    if (
        isinstance(unk_logprob, bool)
        or not isinstance(unk_logprob, (int, float))
        or not math.isfinite(unk_logprob)
    ):
        raise ValueError(
            f"unigram_from_tokens: unk_logprob {unk_logprob!r} is not "
            "a finite number"
        )
    rows = [(t, float(v)) for t, v in logprobs.items()]
    rows.append((None, float(unk_logprob)))
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(spark, rows, UNIGRAM_SCHEMA)


def save_unigram_lm(lm: DataFrame, path: str) -> None:
    """Persist a unigram-LM artifact — including the NULL-token unk
    row — as one parquet file (driver-sized; sibling of
    :func:`load_unigram_lm`)."""
    from wikiextractor_spark.functions.modelio import write_one_file

    write_one_file(lm.select("token", "logprob"), path)


def save_unigram_lm_tsv(spark, lm: DataFrame, path: str) -> None:
    """Export a unigram LM in the published SentencePiece ``.vocab``
    shape (r15): one ``token<TAB>logprob`` line per piece, one
    trailing newline — exactly what ``load_unigram_lm(fmt='tsv')``
    reads back (the modelio keyed-table TSV contract), so trained
    artifacts interchange with text-based tooling.  The NULL-token
    unk row is DROPPED (a TSV cannot express it — pass
    ``unk_logprob=`` on reimport; stated, the vocab.json OOV
    convention).  Lines ride in (logprob desc, token asc) order —
    most-probable-first, deterministic; the loader is key-based so
    order never affects serving.  Logprobs render via ``repr`` (the
    shortest round-tripping form), so reimport is value-exact and a
    re-export is byte-identical."""
    from wikiextractor_spark.functions.modelio import (
        write_one_text_file,
    )

    toks, _unk = _lm_tokens_and_unk(lm, "save_unigram_lm_tsv")
    lines = [
        f"{t}\t{v!r}"
        for v, t in sorted(
            ((v, t) for t, v in toks.items()),
            key=lambda p: (-p[0], p[1]),
        )
    ]
    write_one_text_file(spark, "\n".join(lines) + "\n", path)


def load_unigram_lm(
    spark, path: str, fmt: str | None = None,
    unk_logprob: float | None = None,
) -> DataFrame:
    """Load a PRETRAINED unigram-LM table for
    :func:`unigram_token_count` — the modelio keyed-table contract
    (``parquet`` with ``token string, logprob double`` or headerless
    two-column ``tsv``; malformed values raise; the unk scalar must
    arrive exactly once, as the NULL-token row or the argument)."""
    from wikiextractor_spark.functions.modelio import load_keyed_table

    table, unk = load_keyed_table(
        spark, path, fmt,
        key_col="token", key_type="string", value_col="logprob",
        scalar_name="unk_logprob", scalar=unk_logprob,
        caller="load_unigram_lm",
    )
    from wikiextractor_spark.localframe import local_rows_df

    unk_row = local_rows_df(spark, [(None, float(unk))], UNIGRAM_SCHEMA)
    return table.unionByName(unk_row).localCheckpoint(eager=True)


def _lm_tokens_and_unk(
    lm: DataFrame, caller: str,
) -> tuple[dict[str, float], float]:
    """Shared artifact validation (the :func:`tokenizer.
    _vocab_tokens_and_oov` discipline): exactly one NULL-token unk
    row, a non-empty table, no empty/whitespace-carrying tokens, no
    duplicates."""
    rows = lm.select("token", "logprob").collect()
    unk_vals = [r["logprob"] for r in rows if r["token"] is None]
    if len(unk_vals) != 1 or unk_vals[0] is None:
        raise ValueError(
            f"{caller}: the table must carry exactly one NULL-token "
            f"unk_logprob row, found {len(unk_vals)} — load it through "
            "load_unigram_lm"
        )
    if not math.isfinite(unk_vals[0]):
        raise ValueError(
            f"{caller}: unk_logprob {unk_vals[0]!r} is not finite — "
            "fix the artifact"
        )
    toks: dict[str, float] = {}
    bad: list[str] = []
    for r in rows:
        t = r["token"]
        if t is None:
            continue
        if t == "" or _WS_SPLIT.search(t):
            bad.append(t)
            continue
        if r["logprob"] is None or not math.isfinite(r["logprob"]):
            # a TSV 'NaN'/'inf' field survives the loader's numeric
            # cast; crashing later inside the quantizer would hide
            # which artifact row is corrupt (r13 review)
            raise ValueError(
                f"{caller}: token {t!r} has a NULL or non-finite "
                "logprob — fix the artifact"
            )
        toks[t] = float(r["logprob"])
    if bad:
        raise ValueError(
            f"{caller}: {len(bad)} empty or whitespace-carrying tokens "
            f"(first: {bad[0]!r}) — they can never match under "
            "whitespace pre-tokenization; fix the artifact"
        )
    if not toks:
        raise ValueError(f"{caller}: empty table")
    if len(toks) != len(rows) - 1:
        raise ValueError(f"{caller}: duplicate tokens in the artifact")
    return toks, float(unk_vals[0])


def _check_oversize(oversize_word: str, caller: str) -> None:
    if oversize_word not in ("raise", "chars"):
        raise ValueError(
            f"{caller}: oversize_word must be 'raise' or 'chars', "
            f"got {oversize_word!r}"
        )


def _check_marker(space_marker, caller: str) -> str:
    """Validate ``space_marker`` (r14): ``None`` → the plain
    whitespace grain (empty prefix); otherwise a non-empty
    whitespace-free string — published SentencePiece artifacts use
    U+2581 ``'▁'``."""
    if space_marker is None:
        return ""
    if (
        not isinstance(space_marker, str)
        or space_marker == ""
        or _WS_SPLIT.search(space_marker)
    ):
        raise ValueError(
            f"{caller}: space_marker must be None or a non-empty "
            f"whitespace-free string, got {space_marker!r}"
        )
    return space_marker


def _check_marker_artifact(toks, marker: str, caller: str) -> None:
    """Marker mode over an artifact with ZERO marker-prefixed pieces
    is ALWAYS wrong (r15, the r14 VERDICT's what's-wrong #1): the
    per-word marker prefix can never match any piece, so every word's
    first character silently degrades to UNK — exactly what a
    plain-grain :func:`learn_unigram_lm` artifact does under marker
    mode.  Raise instead of serving garbage.  The bare marker single
    counts as coverage (it segments the prefix on its own)."""
    if marker and not any(t.startswith(marker) for t in toks):
        raise ValueError(
            f"{caller}: space_marker={marker!r} but the artifact "
            "carries ZERO marker-prefixed pieces — a plain-grain "
            "artifact under marker mode degrades every word-initial "
            "character to UNK; serve it without space_marker, or "
            "train with learn_unigram_lm(space_marker=...)"
        )


def _unk_width(ch: str, byte_fallback: bool) -> int:
    """Tokens one UNKNOWN character emits: 1 (the unk sentinel), or
    its UTF-8 byte count under byte fallback (each byte one
    ``<0xNN>`` piece — the published SentencePiece/HF rule).  The
    tie-break packing charges exactly what the ids kernel emits, so
    ``size(token_ids)`` stays the count kernel's value in both
    modes."""
    return len(ch.encode("utf-8")) if byte_fallback else 1


def _oversize_at(word: str, byte_fallback: bool) -> bool:
    """The tie-break packing bound (r16, byte-fallback-aware): total
    emitted tokens must stay below ``_TIE_BASE`` for the count to
    decode from the packed optimum.  Without fallback tokens <=
    len(word); with it an unknown character emits up to 4 byte
    pieces, so the bound runs over the word's UTF-8 byte length —
    tokens <= byte length always (a covered character emits 1 <= its
    byte count, and multi-char pieces only reduce the total)."""
    n = (
        len(word.encode("utf-8")) if byte_fallback else len(word)
    )
    return n >= _TIE_BASE


def _viterbi_count_word(
    word: str, tok_micro: dict[str, int], lens: tuple[int, ...],
    unk_micro: int, oversize_word: str = "raise", prefix: str = "",
    byte_fallback: bool = False,
) -> float:
    """Token count of one word under max-logprob Viterbi segmentation.
    DP over the packed integer ``score_micro * _TIE_BASE - n_tokens``;
    the UNK single-character candidate exists ONLY where the character
    has no single-char vocab token (the serving rule — a covered
    character always scores through its own token), and every position
    stays reachable because one of the two length-1 candidates always
    applies.  The count decodes from the packed optimum:
    ``n = _TIE_BASE - (best mod _TIE_BASE)`` (mathematical mod;
    n < _TIE_BASE by the :func:`_oversize_at` guard; ``oversize_word
    = 'chars'`` falls back to the per-character grain past it).
    ``prefix`` (r14): the SentencePiece space marker prepended
    before the DP, so ``'▁'``-marked artifact pieces match.
    ``byte_fallback`` (r16): an unknown character counts its UTF-8
    byte pieces (:func:`_unk_width`) instead of one unk token."""
    word = prefix + word
    if _oversize_at(word, byte_fallback) and oversize_word == "chars":
        # the DP restricted to length-1 candidates: every char is one
        # token (vocab or unk/byte pieces) — a deterministic upper
        # bound for the unbroken-blob rows a crawl corpus contains
        return float(sum(
            1 if c in tok_micro else _unk_width(c, byte_fallback)
            for c in word
        ))
    best = _viterbi_best(
        word, tok_micro, lens, unk_micro, "unigram_token_count",
        byte_fallback=byte_fallback,
    )
    return float(_TIE_BASE - (best[len(word)] % _TIE_BASE))


def _viterbi_best(
    word: str, tok_micro: dict[str, int], lens: tuple[int, ...],
    unk_micro: int, caller: str, byte_fallback: bool = False,
) -> list[int]:
    """The ONE forward Viterbi DP both kernels share (r13 review —
    the serving rule must not drift between count and ids):
    ``best[p]`` = the max packed ``score_micro * _TIE_BASE -
    n_tokens`` over segmentations of ``word[:p]``; the UNK
    single-character candidate exists only where the character has no
    single-char vocab token, and under ``byte_fallback`` (r16) it
    charges the character's UTF-8 byte count in the token term (what
    the ids kernel actually emits) while keeping the lattice SCORE at
    ``unk_micro`` — exactly the published behavior (the library's
    lattice scores unknowns with the unk penalty and applies the byte
    re-encode only at emission).  Raises past the tie-break bound."""
    n = len(word)
    if _oversize_at(word, byte_fallback):
        raise ValueError(
            f"{caller}: a single word of {n} chars "
            f"({len(word.encode('utf-8'))} UTF-8 bytes) exceeds the "
            f"tie-break packing bound ({_TIE_BASE - 1} emitted "
            "tokens) — such input is almost certainly not natural "
            "text; split it upstream"
        )
    best = [0] * (n + 1)
    for p in range(1, n + 1):
        ch = word[p - 1]
        m1 = tok_micro.get(ch)
        if m1 is None:
            b = (
                best[p - 1] + unk_micro * _TIE_BASE
                - _unk_width(ch, byte_fallback)
            )
        else:
            b = best[p - 1] + m1 * _TIE_BASE - 1
        for ln in lens:
            if ln > p or ln == 1:
                continue
            m = tok_micro.get(word[p - ln:p])
            if m is not None:
                c = best[p - ln] + m * _TIE_BASE - 1
                if c > b:
                    b = c
        best[p] = b
    return best


def _unk_emit(ch: str, fb_ids: dict[int, int] | None) -> list[int]:
    """Ids one UNKNOWN character emits: ``[-1]`` (the engine OOV
    sentinel), or its UTF-8 bytes' ``<0xNN>`` piece ids under byte
    fallback — the published re-encode (r16).  Because the fallback
    expands each character's OWN bytes, the engine's per-character
    unk grain and the library's fused-run unk produce the IDENTICAL
    byte-id stream (bytes of a run = concatenation of its
    characters' bytes) — the one stated unk divergence vanishes
    under fallback."""
    if fb_ids is None:
        return [-1]
    return [fb_ids[b] for b in ch.encode("utf-8")]


def _viterbi_ids_word(
    word: str, tok_micro: dict[str, int], lens: tuple[int, ...],
    unk_micro: int, tok_ids: dict[str, int],
    oversize_word: str = "raise", prefix: str = "",
    fb_ids: dict[int, int] | None = None,
) -> list[int]:
    """Token-id sequence of one word under max-logprob Viterbi
    segmentation — the shared forward DP (:func:`_viterbi_best`) plus
    a deterministic BACKTRACK: from the end, at each position take
    the LONGEST token achieving the packed optimum (ties beyond the
    packed value are broken toward longer tokens — documented engine
    convention, pinned by the enumeration differential).  An UNK
    character emits -1 (the BPE kernels' OOV sentinel), or its UTF-8
    bytes' ``<0xNN>`` piece ids when ``fb_ids`` is given (r16, the
    published byte fallback — :func:`_unk_emit`).
    ``oversize_word = 'chars'``: past the tie-break bound, the
    per-character grain (single-char vocab id, else the unk
    emission, per char).  ``prefix`` (r14): the SentencePiece space
    marker prepended before the DP."""
    fb = fb_ids is not None
    word = prefix + word
    if _oversize_at(word, fb) and oversize_word == "chars":
        out: list[int] = []
        for c in word:
            i = tok_ids.get(c)
            if i is None:
                out.extend(_unk_emit(c, fb_ids))
            else:
                out.append(i)
        return out
    best = _viterbi_best(
        word, tok_micro, lens, unk_micro, "unigram_token_ids",
        byte_fallback=fb,
    )
    rlens = tuple(sorted(lens, reverse=True))  # loop-invariant
    out = []
    p = len(word)
    while p > 0:
        # longest-first probe for the step that achieved best[p]
        chosen = None
        for ln in rlens:
            if ln > p:
                continue
            piece = word[p - ln:p]
            m = tok_micro.get(piece)
            if m is not None and (
                best[p - ln] + m * _TIE_BASE - 1 == best[p]
            ):
                chosen = (ln, [tok_ids[piece]])
                break
        if chosen is None:
            # the UNK step (only reachable where no single-char token
            # covers the char, by the DP's candidate rule)
            chosen = (1, _unk_emit(word[p - 1], fb_ids))
        out.extend(reversed(chosen[1]))
        p -= chosen[0]
    out.reverse()
    return out


def _check_byte_fallback(
    byte_fallback_ids, sids: dict[str, int] | None,
    raw_ids: dict[str, int] | None, caller: str,
) -> dict[int, int] | None:
    """Validate a ``byte_fallback_ids`` mapping ``{byte: id}`` (r16):
    the published fallback needs ALL 256 ``<0xNN>`` pieces (the
    library refuses partial coverage per token; the engine refuses at
    artifact validation — raise-don't-guess), ids must be distinct
    embedding-table ids, must not collide with a special id (the
    decode would be ambiguous), and where a fallback id is also a
    piece id the piece must BE that byte's ``<0xNN>`` literal (the
    well-formed published layout — byte pieces are ordinary vocab
    entries; any other collision would decode two ways)."""
    from wikiextractor_spark.functions.tokenizer import (
        _check_embedding_id,
    )

    if byte_fallback_ids is None:
        return None
    fb = dict(byte_fallback_ids)
    if set(fb) != set(range(256)):
        missing = sorted(set(range(256)) - set(fb))[:1]
        extra = sorted(set(fb) - set(range(256)))[:1]
        raise ValueError(
            f"{caller}: byte_fallback_ids must cover bytes 0..255 "
            f"exactly ({len(fb)} entries; first missing: {missing}, "
            f"first extra: {extra}) — the published fallback "
            "re-encodes ANY UTF-8 byte"
        )
    out = {
        b: _check_embedding_id(caller, f"byte 0x{b:02X}", i)
        for b, i in fb.items()
    }
    if len(set(out.values())) != 256:
        raise ValueError(
            f"{caller}: byte_fallback_ids must be distinct — the "
            "decode byte mapping would be ambiguous"
        )
    ids_rev = {i: b for b, i in out.items()}
    for t, i in (sids or {}).items():
        if i in ids_rev:
            raise ValueError(
                f"{caller}: special token {t!r} id {i} collides with "
                f"byte piece <0x{ids_rev[i]:02X}> — the id stream "
                "would decode two ways"
            )
    for t, i in (raw_ids or {}).items():
        b = ids_rev.get(i)
        if b is not None and t != f"<0x{b:02X}>":
            raise ValueError(
                f"{caller}: piece {t!r} id {i} collides with byte "
                f"0x{b:02X}'s fallback id — byte ids must point at "
                "the <0xNN> pieces themselves"
            )
    return out


def _unigram_raw_ids(
    toks: dict[str, float], token_ids: dict[str, int] | None,
    caller: str,
) -> dict[str, int]:
    """The ONE id-derivation rule the encode and decode paths share
    (so the two can never disagree on a stream's numbering): explicit
    ``token_ids`` must cover the LM's tokens exactly; when omitted,
    ids default to the token list sorted lexicographically (the
    stated engine convention — deterministic, but NOT the published
    model's numbering)."""
    if token_ids is None:
        return {t: i for i, t in enumerate(sorted(toks))}
    missing = set(toks) - set(token_ids)
    extra = set(token_ids) - set(toks)
    if missing or extra:
        raise ValueError(
            f"{caller}: token_ids must cover the LM's "
            f"tokens exactly ({len(missing)} missing, "
            f"{len(extra)} extra; first offending: "
            f"{(sorted(missing) + sorted(extra))[:1]})"
        )
    return dict(token_ids)


def _uni_decode_fb_one(
    ids, id2tok: dict[int, str], rev_special: dict[int, str],
    oov_char: str, marker: str, fb_rev: dict[int, int],
):
    """Decode one id stream under byte fallback (r16) — the published
    ``ByteFallback`` decoder rule: maximal runs of byte-piece ids
    accumulate into a byte buffer; a valid-UTF-8 run decodes as its
    string, an invalid run emits one U+FFFD PER BYTE (the library's
    ``String::from_utf8``-or-replace behavior).  Byte ids decode as
    BYTES even though their ``<0xNN>`` literals are also vocab pieces
    (the published decoder precedence).  The marker→space rewrite
    applies to PIECE text only, never to byte-decoded spans — in the
    published decoder chain ``Replace(marker, ' ')`` runs per token
    BEFORE the fallback conversion, so fallback output is verbatim."""
    if ids is None:
        return None
    parts: list[str] = []
    buf: list[int] = []

    def flush():
        if not buf:
            return
        bs = bytes(buf)
        buf.clear()
        try:
            parts.append(bs.decode("utf-8"))
        except UnicodeDecodeError:
            parts.append("�" * len(bs))

    for i in ids:
        b = fb_rev.get(i)
        if b is not None:
            buf.append(b)
            continue
        flush()
        sp = rev_special.get(i)
        if sp is not None:
            parts.append(sp)
            continue
        if i == -1:
            parts.append(oov_char)
            continue
        tok = id2tok.get(i)
        if tok is None:
            raise ValueError(
                f"unigram_decode_ids: id {i} is neither a vocab id, "
                "-1, a byte piece, nor a registered special token — "
                "sentinel ids must be declared in special_tokens"
            )
        parts.append(tok.replace(marker, " ") if marker else tok)
    flush()
    out = "".join(parts)
    if marker and out.startswith(" "):
        return out[1:]
    return out


def unigram_decode_ids(
    df: DataFrame, lm: DataFrame,
    ids_col: str = "token_ids", out_col: str = "text",
    *, token_ids: dict[str, int] | None = None,
    special_tokens: dict[str, int] | None = None,
    oov_char: str = "?",
    space_marker: str | None = None,
    byte_fallback_ids: dict[int, int] | None = None,
) -> DataFrame:
    """Attach ``out_col``: the id stream DECODED back to text — the
    unigram-LM sibling of :func:`tokenizer.bpe_decode_ids` /
    :func:`wordpiece.wordpiece_decode_ids` (r14, closing the decode
    triangle the r13 VERDICT flagged), for inspecting
    packed/augmented Llama/T5-class sequences.  ``token_ids`` /
    ``special_tokens`` are the SAME mappings given to
    :func:`unigram_token_ids` (plus any downstream sentinel ids:
    pack separators, FIM markers); specials emit their marker text
    verbatim, each -1 (UNK character) becomes one ``oov_char``, and
    an id outside all three classes raises — the engine-wide decode
    contract, one shared kernel body.

    Lossy exactly where the grain is: unigram serving runs at
    whitespace pre-tokenization with UNMARKED pieces (no ``##`` /
    ``▁`` continuation convention in the artifact contract), so
    inter-word whitespace is consumed at encode time and pieces
    concatenate back with no separator — ``decode(encode(w)) == w``
    holds exactly per fully-covered single WORD (pinned by pytest);
    multi-word text decodes to its space-stripped form (stated, the
    plain-BPE decode's convention).  ``space_marker`` (r14): the
    published SentencePiece detokenization instead — pieces
    concatenate, every marker becomes a space, ONE leading space
    strips — so with ``'▁'``-mode streams ``decode(encode(text)) ==
    text`` holds exactly for covered single-spaced text WITHOUT
    special-token literals (pinned by pytest).  Specials are
    word-boundary-like under this convention: the encoder's
    pre-split makes ``'foo<s>bar'`` and ``'foo<s> bar'`` encode to
    IDENTICAL ids (the spacing information is genuinely gone), and
    decode renders the following word's dummy-prefix marker as one
    space — ``'foo<s> bar'`` round-trips exactly, the unspaced form
    decodes to it (stated; r14 review).  NULL streams stay NULL.
    Scale shape: broadcast id→token map, one Arrow-batched kernel,
    no shuffle."""
    from wikiextractor_spark.functions.tokenizer import (
        _compile_specials,
        _decode_ids_one,
        _vocab_id_maps,
    )

    toks, _unk = _lm_tokens_and_unk(lm, "unigram_decode_ids")
    _spat, sids = _compile_specials(special_tokens, "unigram_decode_ids")
    if not isinstance(oov_char, str) or len(oov_char) != 1:
        raise ValueError(
            f"unigram_decode_ids: oov_char must be one character, "
            f"got {oov_char!r}"
        )
    marker = _check_marker(space_marker, "unigram_decode_ids")
    _check_marker_artifact(toks, marker, "unigram_decode_ids")
    if marker:
        # the marker→space rewrite below runs over the whole decoded
        # buffer — a special text or oov_char carrying the marker (or
        # composing it) would be silently rewritten, corrupting the
        # verbatim-special/oov contract; reject at validation time
        # (r14 ADVICE)
        bad_sp = [
            t for t in (special_tokens or {}) if marker in str(t)
        ]
        if bad_sp:
            raise ValueError(
                f"unigram_decode_ids: {len(bad_sp)} special-token "
                f"texts contain the space marker {marker!r} (first: "
                f"{bad_sp[0]!r}) — the marker→space detokenization "
                "would rewrite them; rename the specials or drop "
                "marker mode"
            )
        if marker in oov_char or oov_char in marker:
            raise ValueError(
                f"unigram_decode_ids: oov_char {oov_char!r} overlaps "
                f"the space marker {marker!r} — decoded unknowns "
                "would be rewritten to spaces; pick a different "
                "oov_char"
            )
    raw_ids = _unigram_raw_ids(toks, token_ids, "unigram_decode_ids")
    fb = _check_byte_fallback(
        byte_fallback_ids, sids, raw_ids, "unigram_decode_ids"
    )
    _tok2id, id2tok, rev_special = _vocab_id_maps(
        [{"token": t, "token_id": v} for t, v in raw_ids.items()],
        sids, "unigram_decode_ids",
    )
    fb_rev = None if fb is None else {i: b for b, i in fb.items()}
    bc = df.sparkSession.sparkContext.broadcast(
        (id2tok, rev_special, oov_char, marker, fb_rev)
    )

    @F.pandas_udf("string")
    def _decode(s: pd.Series) -> pd.Series:
        i2t, rsp, oc, mk, fbr = bc.value

        def one(ids):
            if fbr is not None:
                return _uni_decode_fb_one(ids, i2t, rsp, oc, mk, fbr)
            t = _decode_ids_one(
                ids, i2t, None, rsp, oc, caller="unigram_decode_ids"
            )
            if t is None or not mk:
                return t
            # the published SentencePiece detokenization: marker →
            # space, strip the encode-side dummy-prefix space
            t = t.replace(mk, " ")
            return t[1:] if t.startswith(" ") else t

        return s.map(one)

    return df.withColumn(out_col, _decode(F.col(ids_col)))


def unigram_token_ids(
    df: DataFrame, lm: DataFrame,
    text_col: str = "text", out_col: str = "token_ids",
    *, token_ids: dict[str, int] | None = None,
    special_tokens: dict[str, int] | None = None,
    oversize_word: str = "raise",
    space_marker: str | None = None,
    byte_fallback_ids: dict[int, int] | None = None,
    _segment_transform=None,
) -> DataFrame:
    """Attach ``out_col``: the text TOKENIZED to an ``array<long>``
    of ids under max-logprob Viterbi segmentation — the unigram-LM
    sibling of :func:`~wikiextractor_spark.functions.tokenizer.
    bpe_token_ids`, so Llama/T5-class pipelines can feed
    :func:`~wikiextractor_spark.operators.packing.assemble_packs` /
    :func:`~wikiextractor_spark.operators.fim.fim_transform` with
    streams segmented the way their tokenizer actually serves.

    Ids: the unigram artifact carries (token, logprob) only — real
    SentencePiece ids are the model-file row order, so pass them as
    ``token_ids={token: id}`` (must cover every LM token exactly;
    non-negative integral, distinct).  When omitted, ids default to
    the token list sorted lexicographically (a stated engine
    convention — deterministic, but NOT the published model's
    numbering; supply the real mapping for model-faithful streams).
    UNK characters emit -1 (the engine-wide OOV sentinel);
    ``special_tokens`` text splits out before pre-tokenization and
    emits its reserved id, exactly as everywhere else.

    Tie-break beyond the packed (score, token-count) optimum:
    LONGEST token first during backtrack — so the id stream is a
    deterministic pure function of (artifact, text).  Counts derive
    from ids (ids >= 0 and -1 both count 1 under this grain —
    ``size(token_ids)`` IS :func:`unigram_token_count`'s value),
    pinned by pytest.  Same scale shape as the other kernels:
    broadcast table, one Arrow-batched kernel, per-batch word memo.

    ``space_marker`` (r14): pass ``'▁'`` (U+2581) to serve REAL
    SentencePiece artifacts faithfully — each word is prefixed with
    the marker before the DP (SentencePiece's ``add_dummy_prefix`` +
    space→▁ treatment), so the artifact's ``▁``-marked pieces
    actually match; without it every ``▁the``-style piece is
    unmatchable under whitespace pre-tokenization and real Llama/T5
    vocabularies degrade to character/unk streams.  Stated
    divergence: pieces can never SPAN a word boundary (pre-tokenized
    grain — e.g. a ``'▁▁'`` double-indent piece of a code model
    never fires); word-internal pieces, the overwhelming mass, are
    exact.

    ``byte_fallback_ids`` (r16): ``{byte: id}`` over ALL 256 bytes —
    the published SentencePiece/HF ``byte_fallback``: an unknown
    character re-encodes as its UTF-8 bytes' ``<0xNN>`` piece ids
    instead of -1 (so Llama/Mistral-class vocabularies never emit an
    unknown), and the count charges the byte width
    (``size(token_ids)`` stays the count kernel's value).  Because
    each character expands its OWN bytes, the engine's per-character
    unk grain and the library's fused-run unk produce the identical
    byte stream — the stated unk-fusion divergence vanishes under
    fallback.  ``_segment_transform`` (r16): a picklable ``str →
    str`` applied per non-special segment inside the kernel (the
    published added-token-before-normalize order — the NFKC charsmap
    import rides this)."""
    from wikiextractor_spark.functions.tokenizer import (
        _compile_specials,
        _vocab_id_maps,
    )

    toks, unk = _lm_tokens_and_unk(lm, "unigram_token_ids")
    spat, sids = _compile_specials(special_tokens, "unigram_token_ids")
    _check_oversize(oversize_word, "unigram_token_ids")
    prefix = _check_marker(space_marker, "unigram_token_ids")
    _check_marker_artifact(toks, prefix, "unigram_token_ids")
    raw_ids = _unigram_raw_ids(toks, token_ids, "unigram_token_ids")
    fb = _check_byte_fallback(
        byte_fallback_ids, sids, raw_ids, "unigram_token_ids"
    )
    # id validation + duplicate-id + special/vocab collision policy
    # through the ONE shared home (tokenizer._vocab_id_maps, r13
    # review): synthesize the (token, token_id) row shape it keys on
    tid_map, _id2tok, _rev = _vocab_id_maps(
        [{"token": t, "token_id": v} for t, v in raw_ids.items()],
        sids, "unigram_token_ids",
    )
    tok_micro = {t: _quantize_micro(v) for t, v in toks.items()}
    lens = tuple(sorted({len(t) for t in tok_micro}))
    return _memoized_word_counter(
        df,
        partial(
            _viterbi_ids_word, tok_micro=tok_micro, lens=lens,
            unk_micro=_quantize_micro(unk), tok_ids=tid_map,
            oversize_word=oversize_word, prefix=prefix,
            fb_ids=fb,
        ),
        out_col, text_col,
        result_type="array<long>", list_mode=True,
        special_pat=spat, special_ids=sids,
        segment_transform=_segment_transform,
    )


def unigram_token_count(
    df: DataFrame, lm: DataFrame,
    text_col: str = "text", out_col: str = "n_tokens_unigram",
    *, special_tokens: dict[str, int] | None = None,
    oversize_word: str = "raise",
    space_marker: str | None = None,
    byte_fallback_ids: dict[int, int] | None = None,
) -> DataFrame:
    """Attach ``out_col``: the text's token count under max-logprob
    Viterbi segmentation of the imported unigram LM — whitespace
    pre-tokenization, per word the DP of :func:`_viterbi_count_word`,
    unknown characters charged one unk token each.  NULL text stays
    NULL; the count is a DOUBLE for frame-contract consistency with
    the BPE counters (values are exact integers; cast to long before
    integer-budget packing).

    ``special_tokens`` (``{text: id}``): literal ADDED-token text
    splits out BEFORE pre-tokenization and counts exactly 1.0 — the
    same published behavior the exact BPE path has; SentencePiece
    artifacts carry user-defined/control symbols the unigram table
    never scores, and a corpus containing their literal text
    (re-ingested engine output) would otherwise charge per-char unk
    for every marker.

    ``oversize_word``: a single word at/past the 1024-char tie-break
    bound RAISES by default (raise-don't-miscount) — but real crawl
    corpora contain unbroken base64/minified-JS blobs, and one such
    row must not abort a corpus-scale job; pass ``'chars'`` to fall
    back to the per-character grain for those words only (the DP
    restricted to length-1 candidates — a deterministic upper
    bound).

    ``space_marker`` (r14): pass ``'▁'`` to serve REAL
    SentencePiece artifacts — see :func:`unigram_token_ids`.

    ``byte_fallback_ids`` (r16): the published byte fallback — an
    unknown character counts its UTF-8 byte width (the ``<0xNN>``
    pieces the ids kernel would emit) instead of 1; the mapping is
    validated exactly as in :func:`unigram_token_ids` so the two
    kernels cannot diverge on when fallback applies.

    Same scale shape as :func:`tokenizer.bpe_token_count`: broadcast
    driver-sized table, one Arrow-batched kernel, per-batch Zipfian
    word memo (the shared :func:`tokenizer._memoized_word_counter`
    body)."""
    from wikiextractor_spark.functions.tokenizer import _compile_specials

    toks, unk = _lm_tokens_and_unk(lm, "unigram_token_count")
    spat, sids = _compile_specials(special_tokens, "unigram_token_count")
    _check_oversize(oversize_word, "unigram_token_count")
    prefix = _check_marker(space_marker, "unigram_token_count")
    _check_marker_artifact(toks, prefix, "unigram_token_count")
    fb = _check_byte_fallback(
        byte_fallback_ids, sids, None, "unigram_token_count"
    )
    tok_micro = {t: _quantize_micro(v) for t, v in toks.items()}
    lens = tuple(sorted({len(t) for t in tok_micro}))
    return _memoized_word_counter(
        df,
        partial(
            _viterbi_count_word, tok_micro=tok_micro, lens=lens,
            unk_micro=_quantize_micro(unk),
            oversize_word=oversize_word, prefix=prefix,
            byte_fallback=fb is not None,
        ),
        out_col, text_col,
        special_pat=spat, special_ids=sids,
    )


# --------------------------------------------------------------------------
# In-engine unigram-LM training (r14): the SentencePiece EM loop
# --------------------------------------------------------------------------

#: hard cap on the seed table: the piece table is collected to the
#: driver every round (it IS the model), so it must stay driver-sized
#: — the dsir/tokenizer artifact contract.
MAX_SEED_SIZE = 200_000

#: E-step words at/past this length fall back to per-character
#: counts (a deterministic bound for unbroken crawl blobs — the
#: serving kernels' oversize_word='chars' convention at train time).
MAX_EM_WORD_LEN = 512


def _with_marker(words: DataFrame, marker: str) -> DataFrame:
    """The unigram projection of the :func:`tokenizer._word_counts`
    table: the SentencePiece space marker prepended to every distinct
    word (one native concat — the ``add_dummy_prefix`` training
    shape, matching exactly what the serving kernels' per-word
    ``prefix`` does before the DP); the table as-is without one."""
    if not marker:
        return words
    return words.select(
        F.concat(F.lit(marker), F.col("w")).alias("w"), "freq"
    )


def unigram_seed_pieces(
    df: DataFrame, text_col: str = "text", *,
    max_piece_len: int = 8,
    sample_fraction: float | None = None, seed: int = 0,
    space_marker: str | None = None,
    _words: DataFrame | None = None,
) -> DataFrame:
    """→ ``(piece, score)``: every substring of every corpus word up
    to ``max_piece_len`` characters, scored ``occurrences × freq ×
    len(piece)`` — the SentencePiece seed heuristic (its ESA seed
    scores candidates by frequency·length; overlapping occurrences
    count per position, the suffix-array grain).  The candidate pool
    :func:`learn_unigram_lm` prunes from; exposed as its own step so
    the battery oracle can restate the whole seed derivation in
    integer SQL.

    ``space_marker`` (r15): the SentencePiece marker prepended to
    every distinct word before the substring explosion — the
    ``add_dummy_prefix`` training grain, so candidates include the
    ``'▁the'``-style pieces marker-mode serving matches.

    Scale shape: one distinct-word shuffle, then ONE native
    substring-window explosion + map-side-combined groupBy — the
    explosion factor is bounded by ``max_piece_len`` per character of
    the DISTINCT-word table, never the corpus."""
    if max_piece_len < 1:
        raise ValueError(
            f"unigram_seed_pieces: max_piece_len must be >= 1, got "
            f"{max_piece_len}"
        )
    marker = _check_marker(space_marker, "unigram_seed_pieces")
    if _words is not None and marker:
        # a pre-built word table already fixed the grain — silently
        # ignoring the marker would hand back plain-grain candidates
        # under a marker-grain ask (r15 second review)
        raise ValueError(
            "unigram_seed_pieces: space_marker and _words are "
            "mutually exclusive — prefix the pre-built word table "
            "yourself (learn_unigram_lm does)"
        )
    if _words is None:
        # plain whitespace grain: no kernel, so no broadcast to release
        words, _bc = _word_counts(df, text_col, sample_fraction, seed)
        words = _with_marker(words, marker)
    else:
        words = _words
    subs = F.expr(
        f"""
        flatten(transform(sequence(1, least(length(w), {max_piece_len})),
          l -> transform(sequence(1, length(w) - l + 1),
                         i -> substring(w, i, l))))
        """
    )
    return (
        words.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("_occ"))
        .select(
            "piece",
            (F.col("_occ") * F.length("piece")).cast("long").alias("score"),
        )
    )


def _em_expected_counts(word: str, logp: dict[str, float],
                        lens: tuple[int, ...]) -> list[tuple[str, float]]:
    """UNIT expected piece counts for ONE occurrence of ``word``
    under the current model — full forward-backward over the
    segmentation lattice in log space (Kudo 2018's E-step), fixed
    operation order so the result is a deterministic pure function
    of (word, model).  Words at/past MAX_EM_WORD_LEN contribute
    per-character counts instead (stated train-time oversize rule).
    Returns [] for words the model cannot segment (impossible on the
    training corpus itself — every corpus character is a seed
    single — but sampling-free callers stay safe)."""
    n = len(word)
    if n >= MAX_EM_WORD_LEN:
        return [(c, 1.0) for c in word if c in logp]
    NEG = float("-inf")

    def lse(xs):
        m = max(xs)
        if m == NEG:
            return NEG
        return m + math.log(sum(math.exp(x - m) for x in xs))

    # arcs[j] = list of (i, piece, logp) ending at j
    arcs: list[list[tuple[int, str, float]]] = [[] for _ in range(n + 1)]
    for j in range(1, n + 1):
        for ln in lens:
            if ln > j:
                continue
            piece = word[j - ln:j]
            lp = logp.get(piece)
            if lp is not None:
                arcs[j].append((j - ln, piece, lp))
    alpha = [NEG] * (n + 1)
    alpha[0] = 0.0
    for j in range(1, n + 1):
        cands = [alpha[i] + lp for i, _p, lp in arcs[j]]
        if cands:
            alpha[j] = lse(cands)
    if alpha[n] == NEG:
        return []
    beta = [NEG] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        cands = [
            beta[k]
            + next(lp for i, _p, lp in arcs[k] if i == j and _p == word[j:k])
            for k in range(j + 1, min(n, j + max(lens)) + 1)
            if any(i == j for i, _p, _lp in arcs[k])
        ]
        if cands:
            beta[j] = lse(cands)
    z = alpha[n]
    out: dict[str, float] = {}
    for j in range(1, n + 1):
        for i, piece, lp in arcs[j]:
            if alpha[i] == NEG or beta[j] == NEG:
                continue
            e = math.exp(alpha[i] + lp + beta[j] - z)
            out[piece] = out.get(piece, 0.0) + e
    return sorted(out.items())


def _em_round(words: DataFrame, logp: dict[str, float]) -> dict[str, int]:
    """One distributed E-step: per distinct word the unit expected
    counts (one Arrow-batched kernel over the broadcast model),
    quantized to integer micro-units AFTER the frequency multiply —
    integer addition is order-independent, so the aggregated counts
    are exactly reproducible across partitionings (the DSIR
    integerize-first discipline).  → ``{piece: count_micro}``,
    driver-sized by the seed cap."""
    import pandas as pd  # noqa: F401 (pandas_udf type resolution)

    lens = tuple(sorted({len(p) for p in logp}))
    bc = words.sparkSession.sparkContext.broadcast((logp, lens))

    @F.pandas_udf("array<struct<p: string, c: long>>")
    def _ecounts(w: "pd.Series", f: "pd.Series") -> "pd.Series":
        lp, ls = bc.value

        # no word memo here: the input IS the distinct-word table
        # (every word in every batch is globally unique), so a cache
        # could never hit (r14 third review)
        def one(args):
            word, freq = args
            return [
                (p, math.floor(freq * e * 1e6 + 0.5))
                for p, e in _em_expected_counts(word, lp, ls)
            ]

        return pd.Series(map(one, zip(w, f)))

    rows = (
        words.select(F.explode(_ecounts("w", "freq")).alias("pc"))
        .groupBy(F.col("pc.p").alias("p"))
        .agg(F.sum("pc.c").alias("c"))
        .collect()
    )
    # the collect above is the broadcast's only consumer — release it
    # now, or the prune loop (n_em_iters × shrink rounds) accumulates
    # one stale ~seed_size-entry broadcast per pass for the session
    # lifetime (r14 ADVICE)
    bc.unpersist()
    return {r["p"]: int(r["c"]) for r in rows}


def _alt_logprob(
    piece: str, logp: dict[str, float], lens: tuple[int, ...],
) -> float:
    """Best segmentation logprob of ``piece``'s string under the
    current model EXCLUDING the piece itself — the alternative the
    corpus falls back to if the piece is pruned (the quantity Kudo's
    loss rank needs).  Driver-side Viterbi over one short string
    (pieces are ≤ max_piece_len chars); ``-inf`` when unsegmentable
    without itself (impossible while the single-char coverage floor
    holds, but the guard keeps such a piece unconditionally)."""
    n = len(piece)
    neg = float("-inf")
    best = [neg] * (n + 1)
    best[0] = 0.0
    for j in range(1, n + 1):
        b = neg
        for ln in lens:
            if ln > j:
                continue
            sub = piece[j - ln:j]
            if sub == piece:
                continue  # exclude exactly the self-match
            lp = logp.get(sub)
            if lp is not None and best[j - ln] != neg:
                c = best[j - ln] + lp
                if c > b:
                    b = c
        best[j] = b
    return best[n]


def learn_unigram_lm(
    df: DataFrame, vocab_size: int, text_col: str = "text", *,
    seed_size: int | None = None, max_piece_len: int = 8,
    n_em_iters: int = 2, shrink_factor: float = 0.75,
    unk_penalty: float = 10.0,
    sample_fraction: float | None = None, seed: int = 0,
    space_marker: str | None = None,
    prune_rank: str = "count",
    special_tokens: list[str] | None = None,
) -> DataFrame:
    """TRAIN a unigram LM on the corpus — the SentencePiece recipe
    (Kudo 2018): seed a large candidate vocabulary from frequent
    substrings (:func:`unigram_seed_pieces`, top ``seed_size`` by
    (score desc, piece asc) PLUS every corpus single character — the
    coverage floor), then alternate ``n_em_iters`` full EM passes
    (E-step: forward-backward expected piece counts over each word's
    segmentation lattice, distributed as one Arrow kernel over the
    distinct-word table with counts quantized to integer micro-units
    before the aggregate; M-step: ``p(x) = c(x)/Σc`` over the
    driver-sized collected counts) with a PRUNE step dropping the
    weakest multi-character pieces at ``shrink_factor`` per round
    until at most ``vocab_size`` pieces survive, then one final EM
    pass scores the survivors.

    ``prune_rank`` (r15, closing the r14 VERDICT's prune-rank
    divergence): ``'loss'`` ranks prune candidates by Kudo's
    likelihood-loss-if-removed — ``count_micro(x) × (logp(x) −
    alt(x))`` where ``alt(x)`` is the best segmentation logprob of
    the piece's own string WITHOUT the piece
    (:func:`_alt_logprob`; a piece unsegmentable without itself is
    kept unconditionally), the delta quantized to micro-units so the
    rank product stays integer — this is the published SentencePiece
    prune criterion, computed entirely from the driver-sized counts
    and model the EM pass already holds (zero extra cluster work).
    ``'count'`` (default) ranks by expected count — the cheap stated
    mode, which keeps high-frequency redundant pieces a loss rank
    would drop.  Ties break by piece ascending in both modes.

    Returns the UNIGRAM_SCHEMA artifact frame — ``(token, logprob)``
    rows plus the NULL-token unk row at ``min(logprob) −
    unk_penalty`` (a stated convention; SentencePiece's unk score is
    model-reserved) — ready for :func:`save_unigram_lm` /
    :func:`unigram_token_count` / :func:`unigram_token_ids`: the
    train → persist → serve triangle's last leg (r13 VERDICT
    What's-missing #2).

    Determinism: the lattice math is per-word fixed-order float
    (deterministic for a given model), every cross-word aggregation
    is integer, and every M-step/prune runs on the collected counts
    — the trainer is a pure function of (corpus, params), pinned by
    the pytest differential vs an independent restatement.  The
    float lattice cannot cross the DuckDB oracle boundary (stated);
    the SEED derivation is integer SQL and carries the driver-hash
    family, and the TRAINED artifact serves through the
    hash-verified counting kernels.

    ``space_marker`` (r15, closing the r14 VERDICT's
    plain-artifact-under-marker-mode hazard): pass ``'▁'`` to TRAIN
    at the marker grain — every distinct word is prefixed with the
    marker before seeding and EM (one native concat, the published
    ``add_dummy_prefix`` shape), so the trained pieces include the
    ``'▁the'``-style forms marker-mode serving matches and the
    artifact serves faithfully under ``unigram_token_count/ids(
    space_marker='▁')``.  WITHOUT it the trained artifact is
    plain-grain: serving such an artifact under marker mode would
    degrade every word's first character to UNK, so the serving
    kernels now REJECT a marker-mode call whose artifact carries
    zero marker-prefixed pieces — train with the same
    ``space_marker`` you serve with.

    ``special_tokens`` (r15, the BPE/WordPiece trainers' protection
    on this family): the literal texts split out of the corpus
    BEFORE the word grain — they contribute nothing to the seed
    candidates or the EM lattice (a corpus containing engine output
    re-ingested as text must not train marker fragments), and since
    the protection removes the whole literal from every word, no
    trained piece can ever equal a special's text.  The unigram
    artifact carries no ids, so RESERVATION happens at serve/export:
    pass ``special_tokens={text: id}`` to the serving kernels, or
    let the tokenizer.json exporter place them beyond the piece
    table (the CLI train leg does).

    Scale shape: one distinct-word shuffle up front; each EM pass is
    one Arrow kernel over that table + one map-side-combined
    groupBy(piece) collect (≤ seed_size rows, the driver-sized
    artifact contract); rounds are bounded by
    ``log(seed/vocab)/log(1/shrink)`` — fixed job count.
    ``sample_fraction`` bounds the corpus scan at web scale (the
    learn_bpe_merges trade)."""
    marker = _check_marker(space_marker, "learn_unigram_lm")
    _sp_texts, sp_pat = _check_train_specials(
        special_tokens, "learn_unigram_lm"
    )
    if prune_rank not in ("count", "loss"):
        raise ValueError(
            f"learn_unigram_lm: prune_rank must be 'count' or "
            f"'loss', got {prune_rank!r}"
        )
    if vocab_size < 1:
        raise ValueError(
            f"learn_unigram_lm: vocab_size must be >= 1, got "
            f"{vocab_size}"
        )
    if seed_size is None:
        seed_size = min(MAX_SEED_SIZE, 4 * vocab_size)
    if not vocab_size <= seed_size <= MAX_SEED_SIZE:
        raise ValueError(
            f"learn_unigram_lm: seed_size must be in [vocab_size, "
            f"{MAX_SEED_SIZE}], got {seed_size}"
        )
    if not 0.0 < shrink_factor < 1.0:
        raise ValueError(
            f"learn_unigram_lm: shrink_factor must be in (0, 1), got "
            f"{shrink_factor}"
        )
    if n_em_iters < 1:
        raise ValueError(
            f"learn_unigram_lm: n_em_iters must be >= 1, got "
            f"{n_em_iters}"
        )
    with _checkpointed_words(
        partial(_with_marker, marker=marker), df, text_col,
        sample_fraction, seed, special_pat=sp_pat,
    ) as words:
        seed_df = unigram_seed_pieces(
            df, text_col, max_piece_len=max_piece_len, _words=words
        )
        # bounded driver transfer (r14 review): the full piece table
        # is UNBOUNDED (every distinct substring of every distinct
        # word) — only the global top-seed_size (one
        # TakeOrderedAndProject, the selection the driver loop below
        # would make anyway: it never reaches past the first
        # seed_size globally-ordered pieces) plus the single-char
        # coverage floor (alphabet-sized, the learn_wordpiece_vocab
        # collect bound) ever reach the driver — two aggregations
        # over the checkpointed word table
        top_rows = (
            seed_df.orderBy(F.desc("score"), F.asc("piece"))
            .limit(seed_size)
            .collect()
        )
        if not top_rows:
            raise ValueError("learn_unigram_lm: empty corpus")
        single_rows = seed_df.filter(F.length("piece") == 1).collect()
        scores = {r["piece"]: int(r["score"]) for r in top_rows}
        for r in single_rows:
            scores.setdefault(r["piece"], int(r["score"]))
        scored = sorted(
            ((s, p) for p, s in scores.items()),
            key=lambda t: (-t[0], t[1]),
        )
        singles = {p for _s, p in scored if len(p) == 1}
        if vocab_size < len(singles):
            raise ValueError(
                f"learn_unigram_lm: the corpus alphabet needs "
                f"{len(singles)} entries but vocab_size is "
                f"{vocab_size} — truncating it would make training "
                "text unsegmentable; raise vocab_size"
            )
        kept = set(singles)
        for s, p in scored:
            if len(kept) >= seed_size:
                break
            kept.add(p)
        # init p(x) ∝ seed score over the kept set
        tot = sum(s for s, p in scored if p in kept)
        logp = {
            p: math.log(s / tot) for s, p in scored if p in kept and s > 0
        }
        counts: dict[str, int] = {}
        while True:
            for _ in range(n_em_iters):
                counts = _em_round(words, logp)
                # coverage floor: a single character's expected count
                # can quantize to 0 (mass < 0.5 micro) — dropping it
                # would silently lose alphabet coverage, so singles
                # keep a 1-micro floor (stated convention); zero-count
                # MULTI-char pieces drop (the model stopped using them)
                for p in logp:
                    if len(p) == 1:
                        counts[p] = max(counts.get(p, 0), 1)
                alive = {p for p in logp if counts.get(p, 0) > 0}
                total = sum(counts[p] for p in alive)
                logp = {p: math.log(counts[p] / total) for p in alive}
            if len(logp) <= vocab_size:
                break
            if prune_rank == "loss":
                lens_now = tuple(sorted({len(p) for p in logp}))

                def _loss(p):
                    alt = _alt_logprob(p, logp, lens_now)
                    if alt == float("-inf"):
                        return float("inf")  # keep unconditionally
                    return counts[p] * _quantize_micro(logp[p] - alt)

                multi = sorted(
                    ((_loss(p), p) for p in logp if len(p) > 1),
                    key=lambda t: (-t[0], t[1]),
                )
            else:
                multi = sorted(
                    ((counts[p], p) for p in logp if len(p) > 1),
                    key=lambda t: (-t[0], t[1]),
                )
            n_singles = sum(1 for p in logp if len(p) == 1)
            target_multi = max(
                vocab_size - n_singles,
                min(len(multi) - 1, int(len(multi) * shrink_factor)),
            )
            if target_multi < 0:
                target_multi = 0
            survivors = {p for _c, p in multi[:target_multi]}
            survivors |= {p for p in logp if len(p) == 1}
            total = sum(counts[p] for p in survivors)
            logp = {p: math.log(counts[p] / total) for p in survivors}
    if not logp:
        raise ValueError("learn_unigram_lm: training emptied the vocab")
    unk = min(logp.values()) - float(unk_penalty)
    return unigram_from_tokens(df.sparkSession, logp, unk)
