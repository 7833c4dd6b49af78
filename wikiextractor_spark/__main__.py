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
runs the TOKENIZE→[PACK]→[SHARD] tail of the training-data path:
``--tokenize wordpiece --vocab vocab.txt`` (published BERT format),
``--tokenize bpe --vocab vocab.json --merges merges.txt`` (published
GPT-class byte-level formats), or ``--tokenize unigram --lm
table.parquet|tsv``; ``--pack BUDGET`` assembles packed training
sequences, ``--shards N`` writes the deterministic (id, seed)
shard layout.
"""

from __future__ import annotations

import argparse

from wikiextractor_spark.config import ExtractorConfig
from wikiextractor_spark.session import get_spark


# sentinel default for every source-scoped flag: "was this flag
# actually supplied" must be distinguishable from "was it left at its
# default", or an explicitly-passed default value (--source wet
# --parser xml) silently skips the compat check instead of erroring
# (r11 ADVICE).  The real defaults live in _SCOPED_DEFAULTS and are
# resolved post-parse.
_UNSET = object()

# dest → real default, for every flag scoped to one --source.  The
# resolution loop raises KeyError if a _WARC_ONLY/_DUMP_ONLY entry is
# missing here, so the two tables cannot silently desync.
_SCOPED_DEFAULTS = {
    "incubator": "",
    "compress": False,
    "parser": "xml",
    "vitalfn": None,
    "max_records_per_file": None,
    "main_content": False,
    "with_meta": False,
    "tokenize": None,
    "tokenizer_json": None,
    "charsmap": "record",
    "vocab": None,
    "merges": None,
    "lm": None,
    "space_marker": None,
    "pack": None,
    "shards": None,
    "shard_seed": "",
    "basic_tokenize": False,
    "train_tokenizer": None,
    "vocab_size": None,
    "byte_level": False,
    "prune_rank": None,
    "special_token": None,
    "out_model": None,
    "train_sample_fraction": None,
    "target_lang": None,
    "langid_model": None,
    "min_quality": None,
    "gopher": False,
    "normalize": None,
    "dedup": None,
    "sentence_span_dedup": None,
}


class _AppendFromUnset(argparse.Action):
    """``action="append"`` compatible with the _UNSET sentinel
    default: argparse's builtin append copies the DEFAULT and calls
    ``.append`` on it, which explodes on the sentinel object — this
    one starts a fresh list on first use, so "was the flag supplied"
    stays the sentinel test like every other scoped flag."""

    def __call__(self, parser, namespace, values, option_string=None):
        cur = getattr(namespace, self.dest, _UNSET)
        if cur is _UNSET or cur is None:
            cur = []
            setattr(namespace, self.dest, cur)
        cur.append(values)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="wikiextractor_spark", description="PySpark WikiExtractor"
    )
    p.add_argument("--infn", required=True, help="dump file (xml/.bz2/.gz)")
    p.add_argument(
        "--incubator",
        default=_UNSET,
        help="incubator language code (e.g. enm); keeps Wp/LANG/Title pages",
    )
    p.add_argument(
        "--compress", action="store_true", default=_UNSET,
        help="bzip2 output",
    )
    # sentinel-defaulted so --train-tokenizer can REJECT an
    # explicitly-supplied --out instead of silently ignoring it (r14
    # review; the no-silently-ignored-flags discipline) — resolved to
    # its real default in main(), and exempt from the policy-tuple
    # assertion below because it is global, not source-scoped
    p.add_argument(
        "--out", default=_UNSET,
        help="output directory (default: wiki_out; not used by "
        "--train-tokenizer, whose artifacts go under --out-model)",
    )
    p.add_argument(
        "--parser",
        choices=("xml", "line"),
        default=_UNSET,
        help="xml = splittable Catalyst-native source (default); "
        "line = bug-compatible reference parser (one task per file)",
    )
    p.add_argument("--vitalfn", default=_UNSET, help="vital titles side file")
    p.add_argument(
        "--max-records-per-file",
        type=int,
        default=_UNSET,
        help="size-split the output (the reference's intended "
        "OutputSplitter behavior)",
    )
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
    p.add_argument(
        "--main-content",
        action="store_true",
        default=_UNSET,
        help="(--source warc) extract the article body via the "
        "block-level link-density classifier instead of all text",
    )
    p.add_argument(
        "--with-meta",
        action="store_true",
        default=_UNSET,
        help="(--source warc) keep declared <title> and <html lang> "
        "columns",
    )
    p.add_argument(
        "--tokenize",
        choices=("wordpiece", "bpe", "unigram"),
        default=_UNSET,
        help="(--source docs) tokenize text to id arrays: wordpiece "
        "(--vocab vocab.txt, published BERT format), bpe (--vocab "
        "vocab.json --merges merges.txt, published GPT-class "
        "byte-level formats), unigram (--lm table.parquet|tsv)",
    )
    p.add_argument(
        "--tokenizer-json", default=_UNSET,
        help="(--source docs) tokenize via a single-file published "
        "tokenizer.json — family, grain, vocabulary/merges, and "
        "added tokens all come from the file, so no --tokenize/"
        "--vocab/--merges/--lm flags apply; composes with --pack/"
        "--shards like the per-family serve modes",
    )
    p.add_argument(
        "--charsmap", choices=("record", "nfkc"), default=_UNSET,
        help="(--tokenizer-json) what a SentencePiece Precompiled "
        "normalizer's opaque charsmap IS: 'record' (default) keeps "
        "it a printed divergence; 'nfkc' asserts the standard "
        "NFKC/nmt_nfkc charsmap and serves the engine's NFKC kernel "
        "per segment (the T5/Llama-class published normalization)",
    )
    p.add_argument(
        "--vocab", default=_UNSET,
        help="(--tokenize wordpiece|bpe) vocabulary artifact path. "
        "The SUFFIX selects the family: wordpiece .txt = published "
        "vocab.txt, else the engine parquet; bpe .json = published "
        "byte-level vocab.json (keep the canonical suffix — any "
        "other name is read as the engine's char-grain parquet)",
    )
    p.add_argument(
        "--basic-tokenize", action="store_true", default=_UNSET,
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
    p.add_argument(
        "--merges", default=_UNSET,
        help="(--tokenize bpe) merges artifact path: .txt = the "
        "published merges.txt (byte-level family, pairs with "
        "vocab.json), anything else = the engine's parquet merges "
        "(char-grain family, pairs with the parquet vocab)",
    )
    p.add_argument(
        "--lm", default=_UNSET,
        help="(--tokenize unigram) token→logprob table path",
    )
    p.add_argument(
        "--space-marker", nargs="?", const="▁", default=_UNSET,
        metavar="MARKER",
        help="(--tokenize unigram, or --train-tokenizer unigram) "
        "serve or TRAIN at the SentencePiece marker grain: prefix "
        "each word with MARKER (default the "
        "published U+2581 '▁') before the Viterbi DP so ▁-marked "
        "pieces match — without it a published Llama/T5 vocabulary "
        "degrades to character/unk streams",
    )
    p.add_argument(
        "--pack", type=int, default=_UNSET,
        help="(--source docs) assemble packed training sequences "
        "with this token budget",
    )
    p.add_argument(
        "--shards", type=int, default=_UNSET,
        help="(--source docs) write the deterministic shard layout "
        "with this many shards",
    )
    p.add_argument(
        "--shard-seed", default=_UNSET,
        help="(--source docs) shard order seed (one per epoch)",
    )
    p.add_argument(
        "--target-lang", default=_UNSET,
        help="(--source docs) prepare: keep only documents the "
        "stopword-profile language ID assigns this code",
    )
    p.add_argument(
        "--langid-model", default=_UNSET, metavar="PATH",
        help="(--source docs) prepare: parquet lang-ID artifact "
        "(save_langid_model) — routes --target-lang through the "
        "TRAINED NB classifier instead of the stopword heuristic",
    )
    p.add_argument(
        "--train-tokenizer", choices=("bpe", "wordpiece", "unigram"),
        default=_UNSET,
        help="(--source docs) TRAIN a tokenizer on the (prepared) "
        "corpus and persist its serving artifacts under --out-model "
        "— the no-Python train leg; serve them later with --tokenize",
    )
    p.add_argument(
        "--vocab-size", type=int, default=_UNSET,
        help="(--source docs) --train-tokenizer: total vocabulary "
        "budget (bpe derives its merge count as budget minus the "
        "corpus alphabet)",
    )
    p.add_argument(
        "--prune-rank", choices=("count", "loss"), default=_UNSET,
        help="(--source docs) --train-tokenizer unigram: prune-round "
        "candidate ranking — loss = Kudo's likelihood-loss-if-"
        "removed (the published SentencePiece criterion), count = "
        "expected count (the cheap default)",
    )
    p.add_argument(
        "--special-token", action=_AppendFromUnset, default=_UNSET,
        metavar="TEXT", dest="special_token",
        help="(--source docs) --train-tokenizer: reserve an ADDED "
        "token (repeatable; e.g. --special-token '<|endoftext|>') — "
        "its literal text is protected from training on every "
        "family; ids follow the published layouts (bpe: END of the "
        "id space inside --vocab-size, the GPT-2 convention; "
        "wordpiece: FIRST, inside --vocab-size, the BERT-trainer "
        "convention; unigram: beyond the piece table in the written "
        "tokenizer.json).  Not combinable with --basic-tokenize",
    )
    p.add_argument(
        "--byte-level", action="store_true", default=_UNSET,
        help="(--source docs) --train-tokenizer bpe: train at the "
        "published byte-level GPT-2 grain (GPT-2 pre-tokenizer + "
        "byte encode, 256-byte base alphabet) and ALSO export the "
        "published vocab.json + merges.txt — serve those with "
        "--tokenize bpe, which infers the byte-level replay from "
        "the suffixes.  Serve-side byte-level needs no flag (the "
        "artifact format implies the grain)",
    )
    p.add_argument(
        "--out-model", default=_UNSET, metavar="DIR",
        help="(--source docs) --train-tokenizer: artifact directory",
    )
    p.add_argument(
        "--train-sample-fraction", type=float, default=_UNSET,
        help="(--source docs) --train-tokenizer: train on this "
        "corpus sample (the web-scale training trade)",
    )
    p.add_argument(
        "--min-quality", type=float, default=_UNSET,
        help="(--source docs) prepare: composite quality-score floor",
    )
    p.add_argument(
        "--gopher", action="store_true", default=_UNSET,
        help="(--source docs) prepare: apply the Gopher document-"
        "shape rules",
    )
    p.add_argument(
        "--normalize", choices=("NFC", "NFD", "NFKC", "NFKD"),
        default=_UNSET,
        help="(--source docs) prepare: Unicode-canonicalize the text "
        "before content-keyed stages",
    )
    p.add_argument(
        "--dedup", choices=("exact", "near"), default=_UNSET,
        help="(--source docs) prepare: document-grain dedup policy",
    )
    p.add_argument(
        "--sentence-span-dedup", type=int, default=_UNSET,
        metavar="MIN_COUNT",
        help="(--source docs) prepare: C4 keep-first three-sentence-"
        "span dedup at this repeat threshold",
    )
    # a flag declared with the sentinel default but absent from the
    # policy tuples would leak the raw _UNSET object into args (the
    # resolution loop only walks the tuples) — fail at parser
    # construction, not at first use of the bogus value
    scoped = set(_WARC_ONLY + _DUMP_ONLY + _DOCS_ONLY)
    unresolved = [
        a.dest for a in p._actions
        if a.default is _UNSET and a.dest not in scoped
        and a.dest != "out"  # global sentinel, resolved in main()
    ]
    if unresolved:
        raise AssertionError(
            f"sentinel-defaulted flags missing from the policy "
            f"tuples: {unresolved} — add them to _WARC_ONLY, "
            "_DUMP_ONLY or _DOCS_ONLY (and _SCOPED_DEFAULTS)"
        )
    # and the REVERSE desync (r12 ADVICE): a dest listed in the policy
    # tuples whose argparse default is NOT the sentinel would make
    # _resolve_scoped treat the flag as always-supplied, so every run
    # with the other --source spuriously errors
    defaults = {a.dest: a.default for a in p._actions}
    not_sentinel = [
        d for d in sorted(scoped)
        if d not in defaults or defaults[d] is not _UNSET
    ]
    if not_sentinel:
        raise AssertionError(
            f"policy-tuple flags whose parser default is not _UNSET "
            f"(or that are missing from the parser): {not_sentinel} — "
            "declare them with default=_UNSET"
        )
    return p


# which flags belong to which --source is POLICY (stated here once);
# whether a flag was actually supplied is the sentinel test in
# _resolve_scoped — an explicitly-typed default value counts as
# supplied, unlike a value-vs-default compare
_WARC_ONLY = ("main_content", "with_meta")
_DUMP_ONLY = (
    "parser", "vitalfn", "compress", "incubator", "max_records_per_file",
)
_DOCS_ONLY = (
    "tokenize", "tokenizer_json", "charsmap",
    "vocab", "merges", "lm", "pack", "shards", "shard_seed",
    "basic_tokenize", "space_marker",
    "train_tokenizer", "vocab_size", "byte_level", "prune_rank",
    "special_token", "out_model",
    "train_sample_fraction",
    "target_lang", "langid_model", "min_quality", "gopher", "normalize",
    "dedup", "sentence_span_dedup",
)

#: the prepare-stage dests — --source docs needs --tokenize OR at
#: least one of these (prepare-only runs write prepared documents)
_PREPARE_FLAGS = (
    "target_lang", "min_quality", "gopher", "normalize", "dedup",
    "sentence_span_dedup",
)


def _resolve_scoped(args) -> set[str]:
    """Replace every source-scoped sentinel with its real default and
    return the dests the user EXPLICITLY supplied (including at the
    default value).  KeyError here means a flag was added to a policy
    tuple without a _SCOPED_DEFAULTS entry."""
    supplied: set[str] = set()
    for dest in _WARC_ONLY + _DUMP_ONLY + _DOCS_ONLY:
        if getattr(args, dest) is _UNSET:
            setattr(args, dest, _SCOPED_DEFAULTS[dest])
        else:
            supplied.add(dest)
    return supplied


def _check_flag_compat(
    parser: argparse.ArgumentParser, args, supplied: set[str],
) -> None:
    """Reject flag/source combinations that would be silently ignored
    — a typo like ``--source wet --main-content`` must not produce a
    plausible-looking but differently-shaped output."""

    def names(dests) -> list[str]:
        return [
            "--" + d.replace("_", "-") for d in dests if d in supplied
        ]

    def reject(flags: list[str], source: str) -> None:
        if flags:
            parser.error(
                f"{', '.join(flags)} appl"
                f"{'y' if len(flags) > 1 else 'ies'} only to "
                f"--source {source} (got --source {args.source})"
            )

    if args.source != "warc":
        reject(names(_WARC_ONLY), "warc")
    if args.source != "dump":
        reject(names(_DUMP_ONLY), "dump")
    if args.source != "docs":
        reject(names(_DOCS_ONLY), "docs")


def _prepare_requested(args) -> bool:
    """True when any prepare-stage flag was given — ONE home for the
    predicate (r13 review: validation and execution must agree, and
    `not in (None, False)` treated --min-quality 0 as unset because
    0.0 == False in Python)."""
    return bool(args.gopher) or any(
        getattr(args, d) is not None
        for d in _PREPARE_FLAGS
        if d != "gopher"
    )


def _validate_docs_args(parser, args, supplied: set[str]) -> None:
    """--source docs argument validation — BEFORE get_spark (r13
    review): a usage error must not boot a JVM, and under
    getOrCreate it must never stop a session some other caller owns
    (main()'s finally stops the session it obtained).  ``supplied``
    is :func:`_resolve_scoped`'s explicitly-given set — the sentinel
    test, never a value-vs-default compare."""
    if (
        args.tokenize is None
        and args.tokenizer_json is None
        and args.train_tokenizer is None
        and not _prepare_requested(args)
    ):
        parser.error(
            "--source docs requires --tokenize, --tokenizer-json, "
            "--train-tokenizer, and/or at least one prepare flag "
            "(--target-lang/--min-quality/--gopher/--normalize/"
            "--dedup/--sentence-span-dedup)"
        )
    if args.tokenizer_json is not None:
        if args.tokenize is not None:
            parser.error(
                "--tokenizer-json and --tokenize are one serve "
                "mode each — the file carries the family; drop "
                "--tokenize"
            )
        if args.train_tokenizer is not None:
            parser.error(
                "--train-tokenizer and --tokenizer-json are one "
                "run each — train first, then serve the written "
                "file in a second invocation"
            )
    elif "charsmap" in supplied:
        # supplied-but-discarded flags must error (the --shard-seed
        # precedent) — even an explicit '--charsmap record' outside
        # --tokenizer-json is a call shape that does nothing
        parser.error(
            "--charsmap applies to --tokenizer-json serving only"
        )
    if args.train_tokenizer is not None:
        if args.tokenize is not None:
            parser.error(
                "--train-tokenizer and --tokenize are one run each — "
                "train first, then serve the written artifacts with "
                "--tokenize in a second invocation"
            )
        if args.vocab_size is None or args.out_model is None:
            parser.error(
                "--train-tokenizer requires --vocab-size and "
                "--out-model"
            )
        if args.vocab_size < 1:
            parser.error("--vocab-size must be >= 1")
        if args.train_sample_fraction is not None and not (
            0.0 < args.train_sample_fraction <= 1.0
        ):
            parser.error("--train-sample-fraction must be in (0, 1]")
        if args.byte_level and args.train_tokenizer != "bpe":
            parser.error(
                "--byte-level applies only to --train-tokenizer bpe"
            )
        if (
            args.prune_rank is not None
            and args.train_tokenizer != "unigram"
        ):
            parser.error(
                "--prune-rank applies only to --train-tokenizer "
                "unigram"
            )
        if (
            args.special_token is not None
            and args.basic_tokenize
        ):
            # the trainer raises the same contradiction — but a
            # usage error must not boot a JVM (the
            # validate-before-get_spark rule)
            parser.error(
                "--special-token with --basic-tokenize is not "
                "supported: the BasicTokenizer punctuation split "
                "would mangle the literal special texts before the "
                "training protection runs"
            )
        if args.special_token is not None:
            # shape check pre-JVM through the trainer's own validator
            from wikiextractor_spark.functions.tokenizer import (
                _check_train_specials,
            )

            try:
                _check_train_specials(
                    args.special_token, "--special-token"
                )
            except ValueError as e:
                parser.error(str(e))
        if args.byte_level and args.vocab_size <= 256:
            # the byte-level alphabet is a CONSTANT 256, so this is
            # decidable pre-JVM: <=256 leaves zero merges and the
            # published merges.txt export would raise AFTER the full
            # training run (r15 review; validate-before-get_spark)
            parser.error(
                "--byte-level needs --vocab-size >= 257 (the 256-"
                "byte base alphabet leaves no merge budget below it)"
            )
        # family-scope rejection for --space-marker lives in the
        # shared tokenize-is-None block below (train runs always
        # reach it — --tokenize is rejected above); only the VALUE
        # check is train-branch-specific, pre-JVM through the
        # kernel's own validator (the serve leg's rule, one home)
        if (
            args.space_marker is not None
            and args.train_tokenizer == "unigram"
        ):
            from wikiextractor_spark.functions.unigram import (
                _check_marker,
            )

            try:
                _check_marker(args.space_marker, "--space-marker")
            except ValueError as e:
                parser.error(str(e))
        if args.basic_tokenize and args.train_tokenizer != "wordpiece":
            parser.error(
                "--basic-tokenize applies only to --tokenize "
                "wordpiece or --train-tokenizer wordpiece"
            )
    else:
        if args.byte_level:
            parser.error(
                "--byte-level applies only to --train-tokenizer bpe"
            )
        if args.prune_rank is not None:
            parser.error(
                "--prune-rank applies only to --train-tokenizer "
                "unigram"
            )
        if args.special_token is not None:
            parser.error(
                "--special-token requires --train-tokenizer"
            )
        for d in ("vocab_size", "out_model", "train_sample_fraction"):
            if getattr(args, d) is not None:
                parser.error(
                    f"--{d.replace('_', '-')} requires "
                    "--train-tokenizer"
                )
    if args.sentence_span_dedup is not None and args.sentence_span_dedup < 2:
        parser.error("--sentence-span-dedup must be >= 2")
    if args.langid_model is not None and args.target_lang is None:
        # mirror prepare_corpus's contract at the parser boundary —
        # a model without the gate it acts through is a usage error,
        # and it must not boot a JVM
        parser.error("--langid-model requires --target-lang")
    if args.tokenize is None:
        for d in ("vocab", "merges", "lm"):
            if getattr(args, d) is not None:
                parser.error(f"--{d} requires --tokenize")
        if (
            (args.pack is not None or args.shards is not None)
            and args.tokenizer_json is None
        ):
            parser.error(
                "--pack/--shards require --tokenize or "
                "--tokenizer-json (they operate on id streams)"
            )
        if args.shard_seed and args.shards is None:
            parser.error("--shard-seed applies only with --shards")
        if args.basic_tokenize and args.train_tokenizer != "wordpiece":
            parser.error(
                "--basic-tokenize applies only to --tokenize "
                "wordpiece or --train-tokenizer wordpiece"
            )
        if (
            args.space_marker is not None
            and args.train_tokenizer != "unigram"
        ):
            parser.error(
                "--space-marker applies only to --tokenize unigram "
                "or --train-tokenizer unigram"
            )
        return
    need = {"wordpiece": ("vocab",), "bpe": ("vocab", "merges"),
            "unigram": ("lm",)}[args.tokenize]
    for d in need:
        if getattr(args, d) is None:
            parser.error(
                f"--tokenize {args.tokenize} requires --{d}"
            )
    stray = [
        f"--{d}" for d in ("vocab", "merges", "lm")
        if d not in need and getattr(args, d) is not None
    ]
    if stray:
        parser.error(
            f"{', '.join(stray)} do not apply to --tokenize "
            f"{args.tokenize}"
        )
    if args.basic_tokenize and args.tokenize != "wordpiece":
        parser.error(
            "--basic-tokenize applies only to --tokenize wordpiece"
        )
    if args.space_marker is not None and args.tokenize != "unigram":
        parser.error(
            "--space-marker applies only to --tokenize unigram"
        )
    if args.space_marker is not None:
        # VALUE check pre-JVM through the kernel's own validator (one
        # home, no drift): '--space-marker=' or a whitespace marker
        # must exit 2 here, not traceback after a JVM boot (r14
        # review; the r13 validate-before-get_spark rule)
        from wikiextractor_spark.functions.unigram import _check_marker

        try:
            _check_marker(args.space_marker, "--space-marker")
        except ValueError as e:
            parser.error(str(e))
    if args.tokenize == "bpe" and (
        args.vocab.endswith(".json") != args.merges.endswith(".txt")
    ):
        # artifact format implies its GRAIN (r14): mixing the
        # published byte-level pair with the engine's char-grain
        # parquet pair would serve one side under the other's replay
        parser.error(
            "--vocab/--merges must be the SAME artifact family: "
            "published vocab.json + merges.txt, or the engine's "
            "parquet pair from --train-tokenizer bpe"
        )
    if args.pack is not None and args.pack < 1:
        parser.error("--pack must be a positive token budget")
    if args.shards is not None and args.shards < 1:
        parser.error("--shards must be >= 1")
    if args.shards is None and args.shard_seed:
        parser.error(
            "--shard-seed applies only with --shards (it would "
            "otherwise be silently ignored)"
        )


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


def _run_docs_tail(parser, spark, args) -> None:
    """--source docs: TOKENIZE → [PACK] → [SHARD] over a parquet
    documents surface.  Artifact formats are the PUBLISHED ones per
    mode (vocab.txt / vocab.json + merges.txt / the modelio
    keyed-table parquet|tsv) — the byte-level GPT-2 pre-tokenizer is
    implied by --tokenize bpe, exactly the real-artifact serving
    configuration.  Output: (doc_id, token_ids) parquet, packs when
    --pack, the hive shard layout when --shards.  Argument validity
    was already established by _validate_docs_args — BEFORE the
    Spark session exists."""
    docs = spark.read.parquet(args.infn).select("doc_id", "text")
    if _prepare_requested(args):
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
    args = parser.parse_args(argv)
    out_supplied = args.out is not _UNSET
    if not out_supplied:
        args.out = "wiki_out"
    supplied = _resolve_scoped(args)
    _check_flag_compat(parser, args, supplied)
    # Spark reads maxRecordsPerFile <= 0 as "no limit": a value that
    # silently does nothing is a usage error
    if (
        args.max_records_per_file is not None
        and args.max_records_per_file < 1
    ):
        parser.error("--max-records-per-file must be >= 1")
    if args.source == "docs":
        _validate_docs_args(parser, args, supplied)
        if args.train_tokenizer is not None and out_supplied:
            # supplied-but-discarded flags must error, not produce a
            # plausible-looking run with nothing at --out (r14
            # review; the --shard-seed precedent)
            parser.error(
                "--out does not apply to --train-tokenizer "
                "(artifacts go under --out-model)"
            )
    cfg = ExtractorConfig(incubator=args.incubator, compress=args.compress)
    spark = get_spark("wikiextractor-spark-cli")
    try:
        if args.source == "docs":
            _run_docs_tail(parser, spark, args)
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

        if args.parser == "line":
            from wikiextractor_spark.sources.dump import filter_pages
            from wikiextractor_spark.sources.lineparser import read_pages_lineparser

            pages = filter_pages(read_pages_lineparser(spark, args.infn).drop("page_id_raw"), cfg)
        else:
            pages = dump_pages(spark, args.infn, cfg)
        pages_to_text(
            spark,
            pages,
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
