"""CLI mirroring the reference's surface (reference
``WikiExtractor.py:683-754``) plus engine extensions.

    python -m wikiextractor_spark --infn DUMP [--incubator LANG]
        [--compress] [--out DIR] [--parser xml|line] [--vitalfn FILE]

Differences from the reference CLI, by design: output goes to a
directory of part files (``--out``, default ``./wiki_out``) instead of
an append-only ``wiki.txt`` in CWD; ``--vitalfn`` (wired but disabled
upstream) actually works; ``--parser line`` selects the bug-compatible
fallback parser.

Engine extension: ``--source wet|warc`` ingests Common-Crawl-style
archives instead of a MediaWiki dump — WET ``conversion`` records or
raw WARC ``response`` records (HTML stripped natively;
``--main-content`` routes through the block-level link-density
classifier, ``--with-meta`` keeps the declared title/lang) — and
writes the engine's ``documents`` surface as parquet, ready for
``prepare_corpus``.

Engine extension: ``--source docs`` reads a parquet ``documents``
surface (the wet/warc output, or any frame with doc_id + text) and
runs the [PREPARE]→TOKENIZE→[PACK]→[SHARD] tail of the training-data
path: ``--tokenize wordpiece --vocab vocab.txt`` (published BERT
format), ``--tokenize bpe --vocab vocab.json --merges merges.txt``
(published GPT-class byte-level formats), ``--tokenize unigram --lm
table.parquet|tsv``, or ``--tokenizer-json FILE``; ``--pack BUDGET``
assembles packed training sequences, ``--shards N`` writes the
deterministic (id, seed) shard layout.  ``--train-tokenizer`` trains
a tokenizer instead, and the prepare flags alone write the prepared
documents.

Every flag but ``--infn``, ``--source`` and ``--out`` belongs to one
``--source`` and is declared in that source's argument group, which is
also how ``--help`` lists it.  A flag given with another source is a
usage error, never silently ignored, and so is a docs flag outside the
tokenizer modes it applies to (``_MODE_SCOPE``).  Every usage error
exits 2 before a Spark session starts.
"""

from __future__ import annotations

import argparse

from wikiextractor_spark.config import ExtractorConfig
from wikiextractor_spark.session import get_spark


def _int_at_least(low: int):
    """argparse ``type``: an integer no smaller than ``low``."""

    def integer(text: str) -> int:
        value = int(text)
        if value < low:
            raise argparse.ArgumentTypeError(f"must be >= {low}, got {value}")
        return value

    return integer


def _fraction(text: str) -> float:
    """argparse ``type``: a float in (0, 1]."""
    try:
        value = float(text)
    except ValueError:
        raise argparse.ArgumentTypeError(f"not a number: {text!r}") from None
    if not 0.0 < value <= 1.0:
        raise argparse.ArgumentTypeError(f"must be in (0, 1], got {text}")
    return value


def build_parser() -> argparse.ArgumentParser:
    """The CLI parser.  Each source-scoped flag is declared once, in its
    source's group, with ``default=argparse.SUPPRESS``: argparse then
    leaves it out of the namespace unless it was given, which is the
    "was it supplied" test.  ``parser.scoped`` maps each such dest to
    ``(source, real default)``; :func:`_parse` fills the defaults in."""
    p = argparse.ArgumentParser(
        prog="wikiextractor_spark", description="PySpark WikiExtractor"
    )
    p.scoped = {}
    p.add_argument("--infn", required=True, help="dump file (xml/.bz2/.gz)")
    p.add_argument(
        "--source",
        choices=("dump", "wet", "warc", "docs"),
        default="dump",
        help="input kind: dump = MediaWiki XML (reference surface); "
        "wet = Common Crawl WET conversion records; warc = raw WARC "
        "response records (HTML stripped natively); docs = a parquet "
        "documents surface for the tokenize/pack/shard tail. "
        "wet/warc/docs write parquet to --out",
    )
    # SUPPRESS too, so --train-tokenizer can reject a given --out
    p.add_argument(
        "--out", default=argparse.SUPPRESS,
        help="output directory (default: wiki_out; not used by "
        "--train-tokenizer, whose artifacts go under --out-model)",
    )

    def source_group(source: str, description: str):
        group = p.add_argument_group(f"--source {source}", description)

        def add(*flags, default=None, **kw) -> None:
            action = group.add_argument(
                *flags, default=argparse.SUPPRESS, **kw
            )
            p.scoped[action.dest] = (source, default)

        return add

    dump = source_group("dump", "MediaWiki XML dump (the default)")
    dump(
        "--incubator", default="",
        help="incubator language code (e.g. enm); keeps Wp/LANG/Title pages",
    )
    dump("--compress", action="store_true", default=False, help="bzip2 output")
    dump(
        "--parser", choices=("xml", "line"), default="xml",
        help="xml = splittable Catalyst-native source (default); "
        "line = bug-compatible reference parser (one task per file)",
    )
    dump("--vitalfn", help="vital titles side file")
    # Spark reads maxRecordsPerFile < 1 as "no limit", so such a value
    # would silently do nothing
    dump(
        "--max-records-per-file", type=_int_at_least(1),
        help="size-split the output (the reference's intended "
        "OutputSplitter behavior)",
    )

    warc = source_group("warc", "raw WARC response records")
    warc(
        "--main-content", action="store_true", default=False,
        help="extract the article body via the block-level "
        "link-density classifier instead of all text",
    )
    warc(
        "--with-meta", action="store_true", default=False,
        help="keep declared <title> and <html lang> columns",
    )

    docs = source_group(
        "docs",
        "a parquet documents surface: prepare, then tokenize "
        "(--tokenize, --tokenizer-json) or train a tokenizer "
        "(--train-tokenizer)",
    )
    docs(
        "--tokenize", choices=("wordpiece", "bpe", "unigram"),
        help="tokenize text to id arrays: wordpiece "
        "(--vocab vocab.txt, published BERT format), bpe (--vocab "
        "vocab.json --merges merges.txt, published GPT-class "
        "byte-level formats), unigram (--lm table.parquet|tsv)",
    )
    docs(
        "--tokenizer-json",
        help="tokenize via a single-file published "
        "tokenizer.json — family, grain, vocabulary/merges, and "
        "added tokens all come from the file, so no --tokenize/"
        "--vocab/--merges/--lm flags apply; composes with --pack/"
        "--shards like the per-family serve modes",
    )
    docs(
        "--charsmap", choices=("record", "nfkc"), default="record",
        help="(--tokenizer-json) what a SentencePiece Precompiled "
        "normalizer's opaque charsmap IS: 'record' (default) keeps "
        "it a printed divergence; 'nfkc' asserts the standard "
        "NFKC/nmt_nfkc charsmap and serves the engine's NFKC kernel "
        "per segment (the T5/Llama-class published normalization)",
    )
    docs(
        "--vocab",
        help="(--tokenize wordpiece|bpe) vocabulary artifact path. "
        "The SUFFIX selects the family: wordpiece .txt = published "
        "vocab.txt, else the engine parquet; bpe .json = published "
        "byte-level vocab.json (keep the canonical suffix — any "
        "other name is read as the engine's char-grain parquet)",
    )
    docs(
        "--basic-tokenize", action="store_true", default=False,
        help="(--tokenize wordpiece, or --train-tokenizer "
        "wordpiece) apply the published "
        "BasicTokenizer stage (lowercase, accent strip, punctuation "
        "split) before wordpiece — the published uncased pipeline; "
        "without it, serving is raw whitespace-grain (cased text "
        "and attached punctuation collapse to [UNK]).  Train and "
        "serve at the SAME grain: give the flag on BOTH legs (a "
        "RAW-trained artifact UNKs most words under this stage, and "
        "vice versa)",
    )
    docs(
        "--merges",
        help="(--tokenize bpe) merges artifact path: .txt = the "
        "published merges.txt (byte-level family, pairs with "
        "vocab.json), anything else = the engine's parquet merges "
        "(char-grain family, pairs with the parquet vocab)",
    )
    docs("--lm", help="(--tokenize unigram) token→logprob table path")
    docs(
        "--space-marker", nargs="?", const="▁", metavar="MARKER",
        help="(--tokenize unigram, or --train-tokenizer unigram) "
        "serve or TRAIN at the SentencePiece marker grain: prefix "
        "each word with MARKER (default the "
        "published U+2581 '▁') before the Viterbi DP so ▁-marked "
        "pieces match — without it a published Llama/T5 vocabulary "
        "degrades to character/unk streams",
    )
    docs(
        "--pack", type=_int_at_least(1),
        help="assemble packed training sequences with this token budget",
    )
    docs(
        "--shards", type=_int_at_least(1),
        help="write the deterministic shard layout with this many shards",
    )
    docs(
        "--shard-seed", default="",
        help="(--shards) shard order seed (one per epoch)",
    )
    docs(
        "--target-lang",
        help="prepare: keep only documents the stopword-profile "
        "language ID assigns this code",
    )
    docs(
        "--langid-model", metavar="PATH",
        help="prepare: parquet lang-ID artifact "
        "(save_langid_model) — routes --target-lang through the "
        "TRAINED NB classifier instead of the stopword heuristic",
    )
    docs(
        "--train-tokenizer", choices=("bpe", "wordpiece", "unigram"),
        help="TRAIN a tokenizer on the (prepared) "
        "corpus and persist its serving artifacts under --out-model "
        "— the no-Python train leg; serve them later with --tokenize",
    )
    docs(
        "--vocab-size", type=_int_at_least(1),
        help="--train-tokenizer: total vocabulary "
        "budget (bpe derives its merge count as budget minus the "
        "corpus alphabet)",
    )
    docs(
        "--prune-rank", choices=("count", "loss"),
        help="--train-tokenizer unigram: prune-round "
        "candidate ranking — loss = Kudo's likelihood-loss-if-"
        "removed (the published SentencePiece criterion), count = "
        "expected count (the cheap default)",
    )
    docs(
        "--special-token", action="append", metavar="TEXT",
        help="--train-tokenizer: reserve an ADDED "
        "token (repeatable; e.g. --special-token '<|endoftext|>') — "
        "its literal text is protected from training on every "
        "family; ids follow the published layouts (bpe: END of the "
        "id space inside --vocab-size, the GPT-2 convention; "
        "wordpiece: FIRST, inside --vocab-size, the BERT-trainer "
        "convention; unigram: beyond the piece table in the written "
        "tokenizer.json).  Not combinable with --basic-tokenize",
    )
    docs(
        "--byte-level", action="store_true", default=False,
        help="--train-tokenizer bpe: train at the "
        "published byte-level GPT-2 grain (GPT-2 pre-tokenizer + "
        "byte encode, 256-byte base alphabet) and ALSO export the "
        "published vocab.json + merges.txt — serve those with "
        "--tokenize bpe, which infers the byte-level replay from "
        "the suffixes.  Serve-side byte-level needs no flag (the "
        "artifact format implies the grain)",
    )
    docs(
        "--out-model", metavar="DIR",
        help="--train-tokenizer: artifact directory",
    )
    docs(
        "--train-sample-fraction", type=_fraction,
        help="--train-tokenizer: train on this "
        "corpus sample (the web-scale training trade)",
    )
    docs(
        "--min-quality", type=float,
        help="prepare: composite quality-score floor",
    )
    docs(
        "--gopher", action="store_true", default=False,
        help="prepare: apply the Gopher document-shape rules",
    )
    docs(
        "--normalize", choices=("NFC", "NFD", "NFKC", "NFKD"),
        help="prepare: Unicode-canonicalize the text "
        "before content-keyed stages",
    )
    docs(
        "--dedup", choices=("exact", "near"),
        help="prepare: document-grain dedup policy",
    )
    docs(
        "--sentence-span-dedup", type=_int_at_least(2), metavar="MIN_COUNT",
        help="prepare: C4 keep-first three-sentence-"
        "span dedup at this repeat threshold",
    )
    return p


def _parse(parser: argparse.ArgumentParser, argv):
    """``argv`` → (the namespace with every default filled in, the
    dests given on the command line)."""
    args = parser.parse_args(argv)
    given = set(vars(args))
    for dest, (_, default) in parser.scoped.items():
        vars(args).setdefault(dest, default)
    vars(args).setdefault("out", "wiki_out")
    return args, given


def _flag(dest: str) -> str:
    return "--" + dest.replace("_", "-")


def _check_flag_compat(
    parser: argparse.ArgumentParser, args, given: set[str],
) -> None:
    """Reject flags of another --source: a typo like ``--source wet
    --main-content`` must not produce a plausible-looking but
    differently-shaped output."""
    wrong: dict[str, list[str]] = {}
    for dest, (source, _) in parser.scoped.items():
        if dest in given and source != args.source:
            wrong.setdefault(source, []).append(_flag(dest))
    if wrong:
        parser.error(
            "; ".join(
                f"{', '.join(flags)} appl"
                f"{'y' if len(flags) > 1 else 'ies'} only to --source {source}"
                for source, flags in wrong.items()
            )
            + f" (got --source {args.source})"
        )


#: the prepare-stage dests — --source docs needs a tokenizer mode OR
#: at least one of these (prepare-only runs write prepared documents)
_PREPARE_FLAGS = frozenset((
    "target_lang", "min_quality", "gopher", "normalize", "dedup",
    "sentence_span_dedup",
))


_FAMILIES = ("wordpiece", "bpe", "unigram")
_SERVE = tuple(f"--tokenize {f}" for f in _FAMILIES) + ("--tokenizer-json",)
_TRAIN = tuple(f"--train-tokenizer {f}" for f in _FAMILIES)

#: docs flag → the tokenizer modes it applies to.  A run's mode is
#: one of _SERVE or _TRAIN, or none for a prepare-only run.
_MODE_SCOPE = {
    "vocab": ("--tokenize wordpiece", "--tokenize bpe"),
    "merges": ("--tokenize bpe",),
    "lm": ("--tokenize unigram",),
    "charsmap": ("--tokenizer-json",),
    "basic_tokenize": ("--tokenize wordpiece", "--train-tokenizer wordpiece"),
    "space_marker": ("--tokenize unigram", "--train-tokenizer unigram"),
    "pack": _SERVE,
    "shards": _SERVE,
    "byte_level": ("--train-tokenizer bpe",),
    "prune_rank": ("--train-tokenizer unigram",),
    "special_token": _TRAIN,
    "vocab_size": _TRAIN,
    "out_model": _TRAIN,
    "train_sample_fraction": _TRAIN,
}

#: tokenizer mode → the flags it cannot run without
_MODE_NEEDS = {
    "--tokenize wordpiece": ("vocab",),
    "--tokenize bpe": ("vocab", "merges"),
    "--tokenize unigram": ("lm",),
    **{mode: ("vocab_size", "out_model") for mode in _TRAIN},
}

#: docs flag → the flag without which it would be silently ignored
_REQUIRES = {"shard_seed": "shards", "langid_model": "target_lang"}


def _validate_docs_args(parser, args, given: set[str]) -> None:
    """--source docs argument validation, before get_spark: a usage
    error must not start a JVM, and under getOrCreate it must never
    stop a session some other caller owns (main()'s finally stops the
    session it obtained).  Each rule is checked once, on whether a
    flag was given (``given``), never on its value."""
    modes = [
        mode for dest, mode in (
            ("tokenize", f"--tokenize {args.tokenize}"),
            ("tokenizer_json", "--tokenizer-json"),
            ("train_tokenizer", f"--train-tokenizer {args.train_tokenizer}"),
        )
        if dest in given
    ]
    if len(modes) > 1:
        parser.error(
            f"{' and '.join(modes)} are one run each — train first, "
            "then serve the written artifacts in a second invocation"
        )
    mode = modes[0] if modes else None
    if mode is None and given.isdisjoint(_PREPARE_FLAGS):
        parser.error(
            "--source docs requires --tokenize, --tokenizer-json, "
            "--train-tokenizer, and/or at least one prepare flag "
            "(--target-lang/--min-quality/--gopher/--normalize/"
            "--dedup/--sentence-span-dedup)"
        )
    for dest in _MODE_NEEDS.get(mode, ()):
        if dest not in given:
            parser.error(f"{mode} requires {_flag(dest)}")
    for dest, scope in _MODE_SCOPE.items():
        if dest in given and mode not in scope:
            parser.error(
                f"{_flag(dest)} applies only to {' or '.join(scope)} "
                f"(got {mode or 'a prepare-only run'})"
            )
    for dest, needed in _REQUIRES.items():
        if dest in given and needed not in given:
            parser.error(f"{_flag(dest)} requires {_flag(needed)}")
    if "out" in given and mode in _TRAIN:
        parser.error(
            "--out does not apply to --train-tokenizer "
            "(artifacts go under --out-model)"
        )
    if "byte_level" in given and args.vocab_size <= 256:
        # the byte-level alphabet is a constant 256: below 257 no merge
        # is left, and the merges.txt export would fail after training
        parser.error(
            "--byte-level needs --vocab-size >= 257 (the 256-"
            "byte base alphabet leaves no merge budget below it)"
        )
    if {"special_token", "basic_tokenize"} <= given:
        parser.error(
            "--special-token with --basic-tokenize is not "
            "supported: the BasicTokenizer punctuation split "
            "would mangle the literal special texts before the "
            "training protection runs"
        )
    if mode == "--tokenize bpe" and (
        args.vocab.endswith(".json") != args.merges.endswith(".txt")
    ):
        # artifact format implies its grain: mixing the published
        # byte-level pair with the engine's char-grain parquet pair
        # would serve one side under the other's replay
        parser.error(
            "--vocab/--merges must be the SAME artifact family: "
            "published vocab.json + merges.txt, or the engine's "
            "parquet pair from --train-tokenizer bpe"
        )
    # value checks through the kernels' own validators (both pass None)
    from wikiextractor_spark.functions.tokenizer import _check_train_specials
    from wikiextractor_spark.functions.unigram import _check_marker

    try:
        _check_marker(args.space_marker, "--space-marker")
        _check_train_specials(args.special_token, "--special-token")
    except ValueError as e:
        parser.error(str(e))


def _run_train_tokenizer(spark, args, docs) -> None:
    """--train-tokenizer: fit the chosen family on the (prepared)
    documents surface and persist its serving artifacts under
    --out-model — the no-Python TRAIN leg of the triangle
    (bpe / wordpiece / unigram all train in-engine).  Artifact
    layouts are the engine save contracts the --tokenize loaders
    read back:

    * ``bpe``: ``<out-model>/vocab`` + ``<out-model>/merges``
      (parquet pair; char-grain — serve with ``--tokenize bpe``
      giving those paths).  The merge budget derives from
      --vocab-size minus the corpus alphabet (the
      learn_wordpiece_vocab budget rule), raising when the alphabet
      alone exceeds it.  With ``--byte-level`` (r15) training runs
      at the published GPT-2 byte grain and ALSO exports
      ``<out-model>/vocab.json`` + ``<out-model>/merges.txt`` —
      serve THOSE (the suffix dispatch implies the byte-level
      replay; the parquet pair would serve char-grain).
    * ``wordpiece``: ``<out-model>/wp_vocab`` (parquet; serve with
      ``--tokenize wordpiece --vocab <path>``) + the published
      ``<out-model>/vocab.txt`` (r15, same mapping, line order =
      id — external-tooling interchange).
    * ``unigram``: ``<out-model>/unigram_lm`` (parquet incl. the
      NULL-token unk row; serve with ``--tokenize unigram --lm``).
      With ``--space-marker`` (r15) training runs at the marker
      grain — serve with the SAME ``--space-marker``.

    Every leg ALSO writes ``<out-model>/tokenizer.json`` (r15, the
    published single-file serialization) when the trained artifact
    can express it (BPE needs ≥1 merge; unigram needs the '<unk>'
    text free; WordPiece always can — [UNK] rides at id 0) — serve
    with ``--tokenizer-json``, or load it in external HF tooling.

    ``--special-token`` (r15) protects the literal texts from
    training on EVERY family and reserves ids per the published
    layouts — bpe: end of the id space; wordpiece: first; unigram:
    beyond the piece table in the written tokenizer.json (the
    parquet artifact carries no ids) — and the written
    tokenizer.json carries them as added_tokens, so
    ``--tokenizer-json`` serving emits the reserved ids.
    """
    sf = args.train_sample_fraction
    out = args.out_model
    if args.train_tokenizer == "bpe":
        from wikiextractor_spark.functions.tokenizer import (
            GPT2_PRETOKENIZER_PATTERN,
            save_bpe_merges_txt,
            save_bpe_vocab_json,
            train_bpe_tokenizer,
        )

        # the budget split happens INSIDE the trainer over its own
        # (sampled) word table — one corpus scan, one grain
        # definition, and the alphabet that bounds the budget is the
        # one actually trained on (r14 review: a separate full-corpus
        # alphabet count both re-ran the whole prepare chain and
        # mis-sized sampled runs)
        vocab, ranks = train_bpe_tokenizer(
            docs, None, f"{out}/vocab", f"{out}/merges",
            vocab_size=args.vocab_size, sample_fraction=sf,
            byte_level=args.byte_level,
            pre_tokenizer=(
                GPT2_PRETOKENIZER_PATTERN if args.byte_level else None
            ),
            special_tokens=args.special_token,
        )
        from wikiextractor_spark.functions.tokenizer_json import (
            save_tokenizer_json_bpe,
        )

        sp_ids = None
        if args.special_token:
            # the trained vocab reserves specials at the END of the
            # id space — read their assigned ids back off the
            # driver-sized artifact for the added_tokens overlay
            assigned = {
                r["token"]: int(r["token_id"])
                for r in vocab.collect()
                if r["token"] in set(args.special_token)
            }
            sp_ids = {t: assigned[t] for t in args.special_token}
        if args.byte_level:
            if not ranks:
                # the pre-JVM vocab-size check covers the constant
                # case; a corpus where NO pair reaches min_count can
                # still train zero merges, and the published
                # merges.txt cannot be empty (r15 second review) —
                # fail with the cause, not a traceback
                raise SystemExit(
                    "--train-tokenizer bpe --byte-level: training "
                    "learned ZERO merges (no adjacent byte pair "
                    "reached the min count on this corpus) — the "
                    "published merges.txt cannot be empty, so no "
                    f"byte-level artifacts were exported; the "
                    f"parquet pair under {out} is the raw trainer "
                    "state only.  Train on more text."
                )
            # byte-level artifacts serve through the PUBLISHED
            # formats — the --tokenize bpe suffix dispatch infers the
            # byte-level GPT-2 replay from .json/.txt, while the
            # parquet pair (kept for the API save contract) would be
            # served char-grain; point the hint at the right family
            save_bpe_vocab_json(spark, vocab, f"{out}/vocab.json")
            save_bpe_merges_txt(spark, ranks, f"{out}/merges.txt")
            save_tokenizer_json_bpe(
                spark, vocab, ranks, f"{out}/tokenizer.json",
                byte_level=True, special_tokens=sp_ids,
            )
            print(f"wrote {out}/vocab.json, {out}/merges.txt and "
                  f"{out}/tokenizer.json "
                  f"(serve: --tokenizer-json {out}/tokenizer.json, "
                  f"or --tokenize bpe --vocab {out}/vocab.json "
                  f"--merges {out}/merges.txt)")
        else:
            # the single-file export needs at least one merge rule
            # (the published model.merges cannot be empty) — the
            # parquet pair is the complete artifact either way
            if ranks:
                save_tokenizer_json_bpe(
                    spark, vocab, ranks, f"{out}/tokenizer.json",
                    byte_level=False, special_tokens=sp_ids,
                )
                extra = f" and {out}/tokenizer.json"
            else:
                extra = " (tokenizer.json not written: zero merges)"
            print(f"wrote {out}/vocab and {out}/merges{extra} "
                  f"(serve: --tokenize bpe --vocab {out}/vocab "
                  f"--merges {out}/merges)")
    elif args.train_tokenizer == "wordpiece":
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_vocab,
            save_wordpiece_vocab,
            save_wordpiece_vocab_txt,
            wordpiece_from_tokens,
        )

        toks = learn_wordpiece_vocab(
            docs, args.vocab_size, sample_fraction=sf,
            basic_tokenize=args.basic_tokenize,
            special_tokens=args.special_token,
        )
        wp = wordpiece_from_tokens(spark, toks)
        save_wordpiece_vocab(wp, f"{out}/wp_vocab")
        # the published vocab.txt rides beside the parquet (r15):
        # same (token, id) mapping, line order = id — interchange
        # with external BERT-family tooling for free
        save_wordpiece_vocab_txt(spark, wp, f"{out}/vocab.txt")
        # the single-file export carries the grain too — the trained
        # vocabulary always has the [UNK] entry at id 0 (the
        # learn_wordpiece_vocab layout), so this cannot raise
        from wikiextractor_spark.functions.tokenizer_json import (
            save_tokenizer_json_wordpiece,
        )
        from wikiextractor_spark.functions.wordpiece import (
            MAX_INPUT_CHARS_PER_WORD,
        )

        save_tokenizer_json_wordpiece(
            spark, wp, f"{out}/tokenizer.json",
            basic_tokenize=args.basic_tokenize,
            max_input_chars_per_word=MAX_INPUT_CHARS_PER_WORD,
            # trained specials sit FIRST (list order = id) — the
            # added_tokens overlay restates them at those ids (the
            # published special-in-vocab layout)
            special_tokens=(
                {t: i for i, t in enumerate(args.special_token)}
                if args.special_token else None
            ),
        )
        # train/serve grain must match (the help text's warning the
        # r15 basic_tokenize trainer closes): name the serve flag
        bt_hint = " --basic-tokenize" if args.basic_tokenize else ""
        print(f"wrote {out}/wp_vocab, {out}/vocab.txt and "
              f"{out}/tokenizer.json (serve: --tokenize wordpiece "
              f"--vocab {out}/wp_vocab{bt_hint}, or "
              f"--tokenizer-json {out}/tokenizer.json)")
    else:
        from wikiextractor_spark.functions.unigram import (
            learn_unigram_lm,
            save_unigram_lm,
            save_unigram_lm_tsv,
        )

        lm = learn_unigram_lm(
            docs, args.vocab_size, sample_fraction=sf,
            space_marker=args.space_marker,
            prune_rank=args.prune_rank or "count",
            special_tokens=args.special_token,
        )
        save_unigram_lm(lm, f"{out}/unigram_lm")
        # the published .vocab TSV rides beside the parquet (r15
        # third review — the wordpiece vocab.txt precedent): same
        # model minus the unk row, which the TSV cannot express
        save_unigram_lm_tsv(spark, lm, f"{out}/unigram.vocab")
        # the single-file export carries the marker grain in its
        # Metaspace block; a corpus that trained the literal
        # '<unk>' text as a piece cannot use the default unk entry
        # — skip with the cause, the artifact is complete without it
        try:
            from pyspark.sql import functions as F

            from wikiextractor_spark.functions.tokenizer_json import (
                save_tokenizer_json_unigram,
            )

            sp_ids = None
            if args.special_token:
                # the unigram artifact carries no ids — reserve the
                # specials directly after the piece table (unk 0,
                # pieces 1..n, specials n+1..) in the written file
                n_pieces = lm.where(
                    F.col("token").isNotNull()
                ).count()
                sp_ids = {
                    t: n_pieces + 1 + i
                    for i, t in enumerate(args.special_token)
                }
            save_tokenizer_json_unigram(
                spark, lm, f"{out}/tokenizer.json",
                space_marker=args.space_marker,
                special_tokens=sp_ids,
            )
            extra = f" and {out}/tokenizer.json"
        except ValueError as e:
            extra = f" (tokenizer.json not written: {e})"
        mk_hint = (
            f" --space-marker {args.space_marker}"
            if args.space_marker is not None else ""
        )
        print(f"wrote {out}/unigram_lm and {out}/unigram.vocab"
              f"{extra} (serve: --tokenize unigram "
              f"--lm {out}/unigram_lm{mk_hint})")


def _run_docs_tail(spark, args, given: set[str]) -> None:
    """--source docs: [PREPARE] → TOKENIZE → [PACK] → [SHARD] over a
    parquet documents surface (``given``: the flags on the command
    line).  Artifact formats are the PUBLISHED ones per
    mode (vocab.txt / vocab.json + merges.txt / the modelio
    keyed-table parquet|tsv) — the byte-level GPT-2 pre-tokenizer is
    implied by --tokenize bpe, exactly the real-artifact serving
    configuration.  Output: (doc_id, token_ids) parquet, packs when
    --pack, the hive shard layout when --shards.  Argument validity
    was already established by _validate_docs_args — BEFORE the
    Spark session exists."""
    docs = spark.read.parquet(args.infn).select("doc_id", "text")
    if not given.isdisjoint(_PREPARE_FLAGS):
        from wikiextractor_spark.operators.corpus import prepare_corpus

        langid_model = None
        if args.langid_model is not None:
            from wikiextractor_spark.functions.langid import (
                load_langid_model,
            )

            langid_model = load_langid_model(spark, args.langid_model)
        docs = prepare_corpus(
            docs,
            target_lang=args.target_lang,
            langid_model=langid_model,
            min_quality=args.min_quality,
            gopher=args.gopher,
            normalize_form=args.normalize,
            sentence_span_min_count=args.sentence_span_dedup,
            dedup=args.dedup,
        )
    if args.train_tokenizer is not None:
        # the TRAIN leg (r14): persist the serving artifacts and
        # stop — a training run's product is the model, not a
        # tokenized corpus; serve with --tokenize + the written
        # paths in a second invocation
        _run_train_tokenizer(spark, args, docs)
        return
    if args.tokenizer_json is not None:
        # the single-file serve mode: family, grain, vocabulary,
        # merges, and added tokens all come from the published
        # tokenizer.json — no per-family flags
        from wikiextractor_spark.functions.tokenizer_json import (
            load_tokenizer_json,
            tokenizer_json_token_ids,
        )

        model = load_tokenizer_json(
            spark, args.tokenizer_json, charsmap=args.charsmap
        )
        if model.divergences:
            # blocks accepted with a stated divergence must be
            # VISIBLE, not buried on the model object (the CLI's
            # serve-caveat convention)
            print(
                "tokenizer.json served with stated divergences: "
                + ", ".join(model.divergences)
            )
        ids = tokenizer_json_token_ids(
            docs, model, out_col="token_ids"
        )
    elif args.tokenize is None:
        # prepare-only: the prepared documents surface IS the output
        docs.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return
    elif args.tokenize == "wordpiece":
        from wikiextractor_spark.functions.wordpiece import (
            load_wordpiece_vocab,
            load_wordpiece_vocab_txt,
            wordpiece_token_ids,
        )

        vocab = (
            load_wordpiece_vocab_txt(spark, args.vocab)
            if args.vocab.endswith(".txt")
            else load_wordpiece_vocab(spark, args.vocab)
        )
        if args.basic_tokenize:
            from pyspark.sql import functions as F

            from wikiextractor_spark.functions.wordpiece import (
                basic_tokenize_text,
            )

            docs = docs.select(
                "doc_id", basic_tokenize_text("text").alias("text")
            )
        ids = wordpiece_token_ids(docs, vocab, out_col="token_ids")
    elif args.tokenize == "bpe":
        from wikiextractor_spark.functions.tokenizer import (
            GPT2_PRETOKENIZER_PATTERN,
            bpe_token_ids,
            load_bpe_merges,
            load_bpe_merges_txt,
            load_bpe_vocab,
            load_bpe_vocab_json,
        )

        # artifact format implies its GRAIN (family mismatch already
        # rejected pre-JVM): published vocab.json/merges.txt are
        # byte-level GPT-2 artifacts and serve under the GPT-2
        # pre-tokenizer; the engine's parquet artifacts
        # (--train-tokenizer bpe) are character-grain and serve at
        # the whitespace grain they were trained at
        if args.vocab.endswith(".json"):
            vocab = load_bpe_vocab_json(spark, args.vocab)
            ranks = load_bpe_merges_txt(spark, args.merges)
            ids = bpe_token_ids(
                docs, vocab, ranks, out_col="token_ids",
                byte_level=True,
                pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
            )
        else:
            vocab = load_bpe_vocab(spark, args.vocab)
            ranks = load_bpe_merges(spark, args.merges)
            ids = bpe_token_ids(
                docs, vocab, ranks, out_col="token_ids",
            )
    else:
        from wikiextractor_spark.functions.unigram import (
            load_unigram_lm,
            unigram_token_ids,
        )

        lm = load_unigram_lm(spark, args.lm)
        ids = unigram_token_ids(
            docs, lm, out_col="token_ids", oversize_word="chars",
            space_marker=args.space_marker,
        )
    out = ids.select("doc_id", "token_ids")
    if args.pack is not None:
        from pyspark.sql import functions as F

        from wikiextractor_spark.operators.packing import assemble_packs

        # NULL-text docs carry no tokens: drop them HERE (stated)
        # rather than abort mid-job on assemble_packs'
        # raise-don't-guess NULL contract; without --pack they pass
        # through as NULL id rows, mirroring the kernels
        out = assemble_packs(
            out.where(F.col("token_ids").isNotNull()),
            budget=args.pack,
        )
        id_col = "pack_id"
    else:
        id_col = "doc_id"
    if args.shards is not None:
        from wikiextractor_spark.sink import write_training_shards

        # pack_id / doc_id are unique in their frames — the sort
        # key needs no tiebreak here
        write_training_shards(
            out, args.out, n_shards=args.shards,
            seed=args.shard_seed, id_col=id_col,
        )
    else:
        out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {args.out}")


def main(argv: list[str] | None = None) -> None:
    parser = build_parser()
    args, given = _parse(parser, argv)
    _check_flag_compat(parser, args, given)
    if args.source == "docs":
        _validate_docs_args(parser, args, given)
    cfg = ExtractorConfig(incubator=args.incubator, compress=args.compress)
    spark = get_spark("wikiextractor-spark-cli")
    try:
        if args.source == "docs":
            _run_docs_tail(spark, args, given)
            return
        if args.source != "dump":
            from wikiextractor_spark.sources.wet import (
                warc_html_documents,
                wet_documents,
            )

            if args.source == "wet":
                docs = wet_documents(spark, args.infn)
            else:
                docs = warc_html_documents(
                    spark,
                    args.infn,
                    main_content=args.main_content,
                    with_meta=args.with_meta,
                )
            docs.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
            return
        from wikiextractor_spark.pipeline import dump_pages, pages_to_text
        from wikiextractor_spark.sources.dump import read_pages
        from wikiextractor_spark.sources.lineparser import read_pages_lineparser

        read = read_pages_lineparser if args.parser == "line" else read_pages
        pages_to_text(
            spark,
            dump_pages(spark, args.infn, cfg, read),
            args.out,
            cfg,
            vital_path=args.vitalfn,
            max_records_per_file=args.max_records_per_file,
        )
        print(f"wrote {args.out}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
