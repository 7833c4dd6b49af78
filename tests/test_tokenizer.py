"""Imported-tokenizer artifact: greedy longest-match counting, the
modelio save→load round trip, and the wiring into pack_sequences /
cap_group_tokens via token_col."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikiextractor_spark.functions.tokenizer import (
    GPT2_PRETOKENIZER_PATTERN,
    _WS_SPLIT,
    _bpe_replay_word,
    _build_matcher,
    _count_word,
    bpe_token_count,
    bpe_token_count_exact,
    gpt2_bytes_to_unicode,
    learn_bpe_merges,
    load_bpe_merges,
    load_bpe_vocab,
    merges_from_pairs,
    save_bpe_merges,
    save_bpe_vocab,
    vocab_from_tokens,
)

VOCAB = ["low", "lower", "er", "ne", "west", "w", "e", "s", "t", "o", "l"]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_greedy_longest_match_kernel():
    vs, lbf = _build_matcher(VOCAB)
    # 'lower' is one vocab hit, not low+er: longest match wins
    assert _count_word("lower", vs, lbf, 1.0) == 1.0
    # 'lowest' -> low + e + s + t (no 'lowest', no 'est')
    assert _count_word("lowest", vs, lbf, 1.0) == 4.0
    # 'newest' -> ne + west
    assert _count_word("newest", vs, lbf, 1.0) == 2.0
    # OOV char 'z' costs the per-char rate
    assert _count_word("zlow", vs, lbf, 1.0) == 2.0
    assert _count_word("zzz", vs, lbf, 0.25) == 0.75
    assert _count_word("", vs, lbf, 1.0) == 0.0


def _count_word_naive(word, vocab, max_len, oov):
    """The pre-r11 reference loop: probe every length max_len..1 at
    each position — the spec the per-first-char matcher must equal."""
    total, i, n = 0.0, 0, len(word)
    while i < n:
        j = min(n, i + max_len)
        while j > i:
            if word[i:j] in vocab:
                total += 1.0
                break
            j -= 1
        else:
            total += oov
            j = i + 1
        i = j
    return total


def test_matcher_differential_vs_naive(docs):
    """The r11 per-first-char length-pruned matcher is bit-identical
    to the naive loop over every word of the sf documents sample plus
    adversarial shapes (shared prefixes across lengths, OOV runs,
    single chars, unicode)."""
    tokens = [
        "t", "th", "the", "thermo", "thermos", "a", "ab", "abcdefgh",
        "é", "éclair", "x",
    ]
    vs, lbf = _build_matcher(tokens)
    ml = max(len(t) for t in tokens)
    words = {
        "thermost", "thermoss", "ththeth", "abab", "abcdefg",
        "éclairé", "zzz", "", "x" * 50, "athermosb",
    }
    sample = docs.limit(200).select("text").collect()
    for r in sample:
        words.update(w for w in _WS_SPLIT.split(r["text"]) if w)
    assert words
    for w in words:
        assert _count_word(w, vs, lbf, 0.5) == _count_word_naive(
            w, vs, ml, 0.5
        ), w


def test_word_memo_overflow_is_bit_identical(spark, monkeypatch):
    """The per-batch word memo (r11) changes nothing observable: with
    the cache bound forced to 2 (constant clears mid-document) the
    counts equal the unbounded run."""
    import wikiextractor_spark.functions.tokenizer as tok

    vocab = vocab_from_tokens(spark, VOCAB, oov_tokens_per_char=0.5)
    df = spark.createDataFrame(
        [(i, "lower newest zz low " * (i % 5 + 1)) for i in range(50)],
        "doc_id long, text string",
    )
    base = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count(df, vocab, out_col="n").collect()
    }
    monkeypatch.setattr(tok, "_WORD_CACHE_MAX", 2)
    tiny = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count(df, vocab, out_col="n").collect()
    }
    assert base == tiny


def test_bpe_token_count_over_frame(spark):
    vocab = vocab_from_tokens(spark, VOCAB, oov_tokens_per_char=0.5)
    df = spark.createDataFrame(
        [(1, "lower newest"), (2, "zz low"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count(df, vocab, out_col="n").collect()
    }
    assert got[1] == 3.0          # lower(1) + ne+west(2)
    assert got[2] == 2.0          # z+z at 0.5 each, low(1)
    assert got[3] is None
    assert got[4] == 0.0


def test_save_load_round_trip_identical_counts(spark, tmp_path, docs):
    vocab = vocab_from_tokens(
        spark, ["the", "th", "an", "ing", "a", "e", "i", "o", "u", "n"],
        oov_tokens_per_char=1.0,
    )
    path = str(tmp_path / "vocab.parquet")
    save_bpe_vocab(vocab, path)
    reloaded = load_bpe_vocab(spark, path)
    sample = docs.limit(40).select("doc_id", "text")
    a = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count(sample, vocab, out_col="n").collect()
    }
    b = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count(sample, reloaded, out_col="n").collect()
    }
    assert a == b and len(a) == 40


def test_tsv_load_requires_explicit_oov(spark, tmp_path):
    p = tmp_path / "vocab.tsv"
    p.write_text("low\t0\ner\t1\n")
    with pytest.raises(ValueError, match="oov_tokens_per_char"):
        load_bpe_vocab(spark, str(p))
    v = load_bpe_vocab(spark, str(p), oov_tokens_per_char=1.0)
    df = spark.createDataFrame([(1, "lower")], "doc_id long, text string")
    assert bpe_token_count(df, v, out_col="n").collect()[0]["n"] == 2.0


def test_corrupt_artifact_raises_through_shared_contract(spark, tmp_path):
    # two NULL-token rows: the double-scalar failure modelio guards
    rows = [("a", 0.0), (None, 1.0), (None, 2.0)]
    bad = spark.createDataFrame(rows, "token string, token_id double")
    p = str(tmp_path / "bad.parquet")
    bad.coalesce(1).write.parquet(p)
    with pytest.raises(ValueError, match="oov_tokens_per_char"):
        load_bpe_vocab(spark, p)


def test_whitespace_vocab_token_raises(spark):
    with pytest.raises(ValueError, match="whitespace"):
        vocab_from_tokens(spark, ["ok", "not ok"])
    # and the counter itself refuses an artifact that smuggled one in
    smuggled = spark.createDataFrame(
        [("a b", 0.0), (None, 1.0)], "token string, token_id double"
    )
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="whitespace"):
        bpe_token_count(df, smuggled)


# ---------------------------------------------------------------------------
# Exact merges-based BPE replay (r11)
# ---------------------------------------------------------------------------

# a tiny but real BPE state: merges in learned order, vocab = base
# chars + every merge output + one ADDED token no merge chain reaches
_MERGES = [("e", "r"), ("l", "o"), ("lo", "w"), ("low", "er"),
           ("n", "e"), ("w", "e"), ("we", "s"), ("wes", "t")]
_BASE = list("abcdefghijklmnopqrstuvwxyz")
_EXACT_VOCAB = _BASE + ["er", "lo", "low", "lower", "ne", "we",
                        "wes", "west", "added"]


def test_bpe_replay_word_kernel():
    ranks = {p: float(i) for i, p in enumerate(_MERGES)}
    vs = frozenset(_EXACT_VOCAB)
    # 'lower': e+r(0) -> er; l+o(1) -> lo; lo+w(2) -> low;
    # low+er(3) -> lower = ONE token
    assert _bpe_replay_word("lower", ranks, vs, 1.0) == 1.0
    # 'newest': n+e(4) applies FIRST (rank beats w+e at 5) -> ne;
    # then we->we? 'w','e','s','t': we(5), wes(6), west(7) -> ne+west
    assert _bpe_replay_word("newest", ranks, vs, 1.0) == 2.0
    # rank order matters: 'ner' -> e+r (rank 0) merges before n+e
    # (rank 4) can, leaving n+er = 2 — the overlapping lower-priority
    # pair is blocked
    assert _bpe_replay_word("ner", ranks, vs, 1.0) == 2.0
    # and the converse word: 'new' -> n+e (4) fires, w+e never can
    assert _bpe_replay_word("new", ranks, vs, 1.0) == 2.0
    # unknown char charges the vocab OOV per char
    assert _bpe_replay_word("zz√", ranks, vs, 0.5) == 2.5
    assert _bpe_replay_word("", ranks, vs, 1.0) == 0.0
    # all-occurrences merge: 'erer' -> er+er in ONE rule application
    assert _bpe_replay_word("erer", ranks, vs, 1.0) == 2.0


def test_merges_round_trip_and_validation(spark, tmp_path):
    m = merges_from_pairs(spark, _MERGES)
    p = str(tmp_path / "merges.parquet")
    save_bpe_merges(m, p)
    ranks = load_bpe_merges(spark, p)
    assert ranks == {pair: float(i) for i, pair in enumerate(_MERGES)}
    # TSV path through the same loader
    t = tmp_path / "merges.tsv"
    t.write_text("".join(f"{a} {b}\t{i}\n" for i, (a, b) in enumerate(_MERGES)))
    assert load_bpe_merges(spark, str(t)) == ranks
    # malformed pair string in the artifact raises
    bad = spark.createDataFrame(
        [("a b c", 0.0), ("x y", 1.0)], "pair string, rank double"
    )
    pb = str(tmp_path / "bad.parquet")
    bad.coalesce(1).write.parquet(pb)
    with pytest.raises(ValueError, match="left right"):
        load_bpe_merges(spark, pb)
    # duplicate ranks make replay ambiguous: raise
    dup = spark.createDataFrame(
        [("a b", 0.0), ("c d", 0.0)], "pair string, rank double"
    )
    pd_ = str(tmp_path / "dup.parquet")
    dup.coalesce(1).write.parquet(pd_)
    with pytest.raises(ValueError, match="duplicate ranks"):
        load_bpe_merges(spark, pd_)
    with pytest.raises(ValueError, match="malformed"):
        merges_from_pairs(spark, [("a", "b c")])


def test_bpe_exact_over_frame(spark, tmp_path):
    vocab = vocab_from_tokens(spark, _EXACT_VOCAB, oov_tokens_per_char=0.5)
    m = merges_from_pairs(spark, _MERGES)
    p = str(tmp_path / "m.parquet")
    save_bpe_merges(m, p)
    ranks = load_bpe_merges(spark, p)
    df = spark.createDataFrame(
        [(1, "lower newest"), (2, "√√ low"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count_exact(
            df, vocab, ranks, out_col="n"
        ).collect()
    }
    assert got[1] == 3.0          # lower(1) + ne+west(2)
    assert got[2] == 2.0          # √+√ at 0.5 each, l+o->lo, lo+w->low
    assert got[3] is None
    assert got[4] == 0.0


def test_greedy_vs_exact_divergence_quantified(spark, docs):
    """The stated greedy-vs-exact gap, measured: (a) an ADDED vocab
    token no merge chain reaches diverges by construction (greedy 1
    hit, exact per-char replay); (b) over the sf documents sample the
    two modes agree on the overwhelming majority of words (the
    docstring's claim, now a number: <=2% of distinct corpus words
    under this artifact), and greedy never counts MORE than exact
    needs... is not guaranteed — only measured agreement is."""
    ranks = {p: float(i) for i, p in enumerate(_MERGES)}
    vs = frozenset(_EXACT_VOCAB)
    vs_greedy, lbf = _build_matcher(_EXACT_VOCAB)
    # (a) guaranteed divergence on the added token
    g = _count_word("added", vs_greedy, lbf, 1.0)
    e = _bpe_replay_word("added", ranks, vs, 1.0)
    assert g == 1.0 and e == 5.0
    # (b) corpus measurement
    words = set()
    for r in docs.limit(500).select("text").collect():
        words.update(w for w in _WS_SPLIT.split(r["text"]) if w)
    assert words
    diverged = [
        w for w in words
        if _count_word(w, vs_greedy, lbf, 0.5)
        != _bpe_replay_word(w, ranks, vs, 0.5)
    ]
    assert len(diverged) <= max(1, len(words) * 0.02), (
        f"{len(diverged)}/{len(words)} diverged: {diverged[:10]}"
    )


# ---------------------------------------------------------------------------
# Byte-level + GPT-2-style regex pre-tokenization (r12)
# ---------------------------------------------------------------------------

import re as _re

_G2RE = _re.compile(GPT2_PRETOKENIZER_PATTERN)


def test_gpt2_byte_table_properties():
    enc = gpt2_bytes_to_unicode()
    # a bijection over all 256 bytes onto whitespace-free chars
    assert len(enc) == 256 and len(set(enc.values())) == 256
    assert not any(c.isspace() for c in enc.values())
    # the published anchor values: printable ASCII is identity,
    # space/newline/tab map to the well-known visible forms
    assert enc[ord("a")] == "a" and enc[ord("!")] == "!"
    assert enc[ord(" ")] == "Ġ"   # U+0120 = 0x20 + 0x100
    assert enc[ord("\n")] == "Ċ"  # U+010A
    assert enc[ord("\t")] == "ĉ"  # U+0109
    # multi-byte chars encode per UTF-8 byte: é = C3 A9 → 'Ã©'
    assert "".join(enc[b] for b in "é".encode()) == "Ã©"


def test_gpt2_pretokenizer_published_semantics():
    """Hand-stated behaviors of the published GPT-2 pattern — the
    cases the whitespace grain gets wrong: contractions split,
    words absorb their leading space, punctuation/digits separate
    from letters, whitespace runs keep all-but-last before a word
    and stay whole at end of text."""
    cases = {
        "don't stop": ["don", "'t", " stop"],
        "Hello world": ["Hello", " world"],
        "we'll we've I'm you're he's i'd":
            ["we", "'ll", " we", "'ve", " I", "'m", " you", "'re",
             " he", "'s", " i", "'d"],
        "web-scale data!!": ["web", "-", "scale", " data", "!!"],
        "x_1 mixed2tokens": ["x", "_", "1", " mixed", "2", "tokens"],
        "a  b": ["a", " ", " b"],
        "a   b": ["a", "  ", " b"],
        "para.\n\nNext": ["para", ".", "\n", "\n", "Next"],
        "end.  ": ["end", ".", "  "],
        "a\n\n": ["a", "\n\n"],
        "prix café 2024": ["prix", " café", " 2024"],
        "": [],
    }
    for text, expect in cases.items():
        assert _G2RE.findall(text) == expect, text


def _py_bytelevel_count(text, merges, vocab, oov):
    """Independent slow restatement: findall pre-tokenization →
    byte-encode → min-rank merge replay → vocab/OOV count."""
    enc = gpt2_bytes_to_unicode()
    ranks = {p: float(i) for i, p in enumerate(merges)}
    total = 0.0
    for ptok in _G2RE.findall(text):
        syms = ["".join(enc[b] for b in c.encode()) for c in ptok]
        # byte-grain base symbols: a multi-byte char is SEVERAL syms
        syms = [s for cs in syms for s in cs]
        while len(syms) > 1:
            cands = [
                (ranks[(syms[i], syms[i + 1])], i)
                for i in range(len(syms) - 1)
                if (syms[i], syms[i + 1]) in ranks
            ]
            if not cands:
                break
            r, _ = min(cands)
            a, b = next(
                p for p, rr in ranks.items() if rr == r
            )
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        total += sum(1.0 if s in vocab else oov * len(s) for s in syms)
    return total


_G2_TEST_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"),
    ("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e"), ("Ċ", "Ċ"),
    ("'", "t"),
]
_G2_TEST_VOCAB = [
    "th", "the", "in", "ing", "Ġt", "Ġth", "Ġthe", "ĊĊ", "'t",
    "Ġ", "Ċ", "t", "h", "e", "a", "d", "o", "n", "s", "p",
]


def test_byte_level_exact_differential(spark):
    """Engine kernel vs the independent restatement over adversarial
    texts: contractions, multi-space, newline runs, trailing
    whitespace, multi-byte chars, punctuation."""
    texts = [
        "the thing", " the thing", "don't stop", "a  b   c",
        "para.\n\nNext", "end.  ", "tab\there", "café été",
        "the\n\n\nthe", "'t alone", "", None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 0.5)
    ranks = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    got = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count_exact(
            df, vocab, ranks, out_col="n",
            byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        ).collect()
    }
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None
        else:
            expect = _py_bytelevel_count(
                t, _G2_TEST_MERGES, set(_G2_TEST_VOCAB), 0.5
            )
            assert got[i] == expect, (t, got[i], expect)


def test_byte_level_exact_differential_on_real_docs(spark, docs):
    sample = docs.limit(100).select("doc_id", "text")
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 0.5)
    ranks = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    got = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count_exact(
            sample, vocab, ranks, out_col="n",
            byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        ).collect()
    }
    for r in sample.collect():
        expect = _py_bytelevel_count(
            r["text"], _G2_TEST_MERGES, set(_G2_TEST_VOCAB), 0.5
        )
        assert got[r["doc_id"]] == expect


def test_byte_level_fixes_whitespace_grain_divergence(spark):
    """The r11 VERDICT divergence, demonstrated closed: under the
    whitespace grain an imported GPT-class artifact drifts on every
    contraction ('don't' stays one word) and loses whitespace tokens;
    the byte-level GPT-2 grain counts them faithfully."""
    df = spark.createDataFrame(
        [(0, "don't"), (1, "the the"), (2, "a\n\n")],
        "doc_id long, text string",
    )
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 1.0)
    ranks = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    ws = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count_exact(
            df, vocab, ranks, out_col="n"
        ).collect()
    }
    bl = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count_exact(
            df, vocab, ranks, out_col="n",
            byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        ).collect()
    }
    # "the the" byte-level: pre-tokens ["the", " the"]; the bare word
    # merges to one "the", the space-prefixed one replays to
    # [Ġ, the] (these merges rank (t,h) below (Ġ,t), so Ġ never
    # fuses) = 2 → total 3.  Whitespace grain: two bare "the" = 2.
    assert bl[1] == 3.0
    assert ws[1] == 2.0
    # "a\n\n" byte-level: ["a", "\n\n"] → "a" + the merged "ĊĊ"
    # trailing-newline token = 2; whitespace grain: newlines vanish.
    assert bl[2] == 2.0
    assert ws[2] == 1.0
    # "don't": GPT-2 grain splits don/'t → d,o,n singles (3) + the
    # merged 't (1) = 4; the whitespace grain happens to agree HERE
    # because ' only ever merges rightward — the suite's published-
    # semantics cases cover where the grains genuinely differ.
    assert bl[0] == ws[0] == 4.0


def test_bpe_token_ids_differential(spark):
    """bpe_token_ids vs an independent restatement: the id stream is
    the replay's surviving symbols mapped through the vocab, OOV
    exploded to -1 per char; counts derive from ids exactly."""
    from wikiextractor_spark.functions.tokenizer import bpe_token_ids

    texts = [
        "the thing", "don't stop", "a  b", "para.\n\nNext",
        "café", "", None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 0.5)
    ranks = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    out = bpe_token_ids(
        df, vocab, ranks, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    out = bpe_token_count_exact(
        out, vocab, ranks, out_col="n",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    enc = gpt2_bytes_to_unicode()
    from wikiextractor_spark.functions.tokenizer import (
        _bpe_replay_symbols,
    )

    idmap = {t: i for i, t in enumerate(_G2_TEST_VOCAB)}
    rows = {r["doc_id"]: r for r in out.collect()}
    for i, t in enumerate(texts):
        got = rows[i]["ids"]
        if t is None:
            assert got is None
            continue
        expect = []
        for ptok in _G2RE.findall(t):
            e = "".join(enc[b] for b in ptok.encode())
            for s in _bpe_replay_symbols(e, ranks):
                if s in idmap:
                    expect.append(idmap[s])
                else:
                    expect.extend([-1] * len(s))
        assert list(got) == expect, (t, got, expect)
        # count derives from ids: 1.0 per real id, oov per -1
        derived = sum(1.0 if x >= 0 else 0.5 for x in got)
        assert rows[i]["n"] == derived


def test_bpe_token_ids_rejects_fractional_and_negative_ids(spark):
    from wikiextractor_spark.functions.tokenizer import bpe_token_ids

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    bad = spark.createDataFrame(
        [("x", 0.5), (None, 1.0)], "token string, token_id double"
    )
    with pytest.raises(ValueError, match="non-integral"):
        bpe_token_ids(df, bad, {})
    neg = spark.createDataFrame(
        [("x", -1.0), (None, 1.0)], "token string, token_id double"
    )
    # a -1 vocab id would collide with the OOV sentinel (r12 review)
    with pytest.raises(ValueError, match="negative id"):
        bpe_token_ids(df, neg, {})


def test_published_format_loaders_end_to_end(spark, tmp_path):
    """merges.txt (header + 'left right' lines) and vocab.json, the
    formats real GPT-class tokenizer dumps ship in, load into the
    byte-level counting path directly."""
    from wikiextractor_spark.functions.tokenizer import (
        load_bpe_merges_txt,
        load_bpe_vocab_json,
    )

    mt = tmp_path / "merges.txt"
    mt.write_text(
        "#version: 0.2\n" +
        "\n".join(f"{a} {b}" for a, b in _G2_TEST_MERGES) + "\n"
    )
    vj = tmp_path / "vocab.json"
    import json

    vj.write_text(
        json.dumps({t: i for i, t in enumerate(_G2_TEST_VOCAB)})
    )
    ranks = load_bpe_merges_txt(spark, str(mt))
    assert ranks == {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    vocab = load_bpe_vocab_json(spark, str(vj), oov_tokens_per_char=0.5)
    df = spark.createDataFrame(
        [(0, "the thing"), (1, "don't stop")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count_exact(
            df, vocab, ranks, out_col="n",
            byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        ).collect()
    }
    for i, t in [(0, "the thing"), (1, "don't stop")]:
        assert got[i] == _py_bytelevel_count(
            t, _G2_TEST_MERGES, set(_G2_TEST_VOCAB), 0.5
        )


def test_published_format_loaders_reject_corrupt_artifacts(
    spark, tmp_path,
):
    import json

    import pytest as _pytest

    from wikiextractor_spark.functions.tokenizer import (
        load_bpe_merges_txt,
        load_bpe_vocab_json,
    )

    p = tmp_path / "m.txt"
    p.write_text("a b\na b\n")
    with _pytest.raises(ValueError, match="duplicate merge pair"):
        load_bpe_merges_txt(spark, str(p))
    p.write_text("a b c\n")
    with _pytest.raises(ValueError, match="left right"):
        load_bpe_merges_txt(spark, str(p))
    # only the published '#version...' FIRST line is a header; any
    # other comment-looking line raises as malformed instead of being
    # silently swallowed (r12 review)
    p.write_text("#only a header\n")
    with _pytest.raises(ValueError, match="left right"):
        load_bpe_merges_txt(spark, str(p))
    p.write_text("#version: 0.2\n")
    with _pytest.raises(ValueError, match="no merge rules"):
        load_bpe_merges_txt(spark, str(p))
    # a '#' line AFTER the first rule is data, not a header → malformed
    p.write_text("a b\n# not a header\n")
    with _pytest.raises(ValueError, match="left right"):
        load_bpe_merges_txt(spark, str(p))
    # a real first rule merging hash symbols is a RULE, not a header
    p.write_text("# #\na b\n")
    got = load_bpe_merges_txt(spark, str(p))
    assert got == {("#", "#"): 0.0, ("a", "b"): 1.0}
    v = tmp_path / "v.json"
    v.write_text("not json")
    with _pytest.raises(ValueError, match="not valid JSON"):
        load_bpe_vocab_json(spark, str(v))
    v.write_text(json.dumps({"a": 0, "b": 0}))
    with _pytest.raises(ValueError, match="duplicate token ids"):
        load_bpe_vocab_json(spark, str(v))
    v.write_text(json.dumps({"a b": 0}))
    with _pytest.raises(ValueError, match="malformed"):
        load_bpe_vocab_json(spark, str(v))
    v.write_text(json.dumps({"a": True}))
    with _pytest.raises(ValueError, match="malformed"):
        load_bpe_vocab_json(spark, str(v))
    v.write_text(json.dumps([1, 2]))
    with _pytest.raises(ValueError, match="JSON object"):
        load_bpe_vocab_json(spark, str(v))


def test_packing_honors_imported_counts(spark):
    from wikiextractor_spark.operators.packing import pack_sequences

    vocab = vocab_from_tokens(spark, VOCAB, oov_tokens_per_char=1.0)
    df = spark.createDataFrame(
        [(i, "lower " * (i % 7 + 1)) for i in range(60)],
        "doc_id long, text string",
    )
    counted = bpe_token_count(df, vocab, out_col="n_bpe").withColumn(
        "n_bpe", F.col("n_bpe").cast("long")
    )
    packed = pack_sequences(
        counted.select("doc_id", "n_bpe"),
        token_col="n_bpe", budget=10, num_groups=4,
    )
    rows = packed.collect()
    assert {r["doc_id"] for r in rows} == set(range(60))
    # the packer consumed the IMPORTED counts (each 'lower' is one
    # vocab token), and every normal pack respects the budget in them
    by_id = {r["doc_id"]: r["n_bpe"] for r in rows}
    assert all(by_id[i] == i % 7 + 1 for i in range(60))
    sums = {}
    for r in rows:
        if not r["over_budget"]:
            sums[r["pack_id"]] = sums.get(r["pack_id"], 0) + r["n_bpe"]
    assert sums and all(s <= 10 for s in sums.values())


def test_cap_group_tokens_honors_imported_counts(spark):
    from wikiextractor_spark.operators.sampling import cap_group_tokens

    vocab = vocab_from_tokens(spark, VOCAB, oov_tokens_per_char=1.0)
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), "newest " * 5) for i in range(40)],
        "doc_id long, grp string, text string",
    )
    counted = bpe_token_count(df, vocab, out_col="n_bpe").withColumn(
        "n_bpe", F.col("n_bpe").cast("long")
    )
    capped = cap_group_tokens(
        counted, ["grp"], max_tokens=30,
        token_col="n_bpe",
    )
    per_group = (
        capped.groupBy("grp").agg(F.sum("n_bpe").alias("s")).collect()
    )
    # each doc is 10 tokens (5 × ne+west); cumulative-before gate:
    # keeps rows while the PRIOR sum < 30 → exactly 3 docs = 30
    assert {r["s"] for r in per_group} == {30}


# ---------------------------------------------------------------------------
# Corpus BPE training (r11): learn_bpe_merges
# ---------------------------------------------------------------------------


def _py_train(texts, k, min_count=1):
    """Inline reference trainer — the Sennrich loop at character
    grain, (count DESC, pair-key ASC) tie-break, overlap-blocked
    left-to-right merges — kept deliberately naive so the kernel
    differential has an independent restatement."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        if t is None:
            continue
        for w in _WS_SPLIT.split(t):
            if w:
                wf[w] += 1
    words = {w: (list(w), f) for w, f in wf.items() if len(w) > 1}
    out = []
    for _ in range(k):
        pc = Counter()
        for syms, f in words.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        if cnt < min_count:
            break
        out.append((a, b, cnt))
        nw = {}
        for w, (syms, f) in words.items():
            ns, i, n = [], 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            if len(ns) > 1:
                nw[w] = (ns, f)
        words = nw
    return out


def test_learn_bpe_hand_computed(spark):
    # corpus: 'abab' x3, 'ab' x2, 'cd' x2.  Pair counts round 1:
    # (a,b) 3*2+2 = 8 ... wait: 'abab' has (a,b) at pos 0 and 2 -> 2
    # per occurrence, (b,a) once -> (a,b)=3*2+2=8, (b,a)=3, (c,d)=2.
    # merge (a,b): 'abab'->[ab,ab], 'ab' drops (fully merged), 'cd'
    # stays.  Round 2: (ab,ab)=3, (c,d)=2 -> merge (ab,ab).
    # Round 3: only 'cd' remains -> (c,d)=2.
    df = spark.createDataFrame(
        [(1, "abab abab abab ab ab cd cd")], "doc_id long, text string"
    )
    got = learn_bpe_merges(df, 5, min_count=1)
    assert got == [("a", "b", 8), ("ab", "ab", 3), ("c", "d", 2)]
    # min_count prunes the tail; the loop stops, not truncates
    assert learn_bpe_merges(df, 5, min_count=3) == [
        ("a", "b", 8), ("ab", "ab", 3)
    ]
    assert learn_bpe_merges(df, 0) == []
    with pytest.raises(ValueError, match="n_merges"):
        learn_bpe_merges(df, -1)
    with pytest.raises(ValueError, match="min_count"):
        learn_bpe_merges(df, 2, min_count=0)


def test_learn_bpe_releases_superseded_checkpoints(spark):
    """r11 ADVICE: each training round localCheckpoints the shrinking
    word table; the superseded round's blocks must be released, not
    left to LRU eviction — a 32k-merge run would otherwise accumulate
    thousands of copies.  After training, the block manager holds no
    more cached RDDs than before (the trainer releases its last
    checkpoint too)."""
    sc = spark.sparkContext

    def cached_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    df = spark.createDataFrame(
        [(1, "abab abab abab ab ab cd cd ef ef gh gh")],
        "doc_id long, text string",
    )
    before = cached_ids()
    got = learn_bpe_merges(df, 5, min_count=1)
    assert len(got) >= 3  # the run genuinely iterated
    leaked = cached_ids() - before
    assert leaked == set(), f"leaked checkpoint RDD blocks: {leaked}"


def test_train_bpe_tokenizer_releases_word_table(spark, tmp_path):
    """train_bpe_tokenizer's shared word-frequency checkpoint is
    released after its last consumer (the alphabet collect); only the
    returned serving vocab's own checkpoint may remain."""
    from wikiextractor_spark.functions.tokenizer import train_bpe_tokenizer

    sc = spark.sparkContext

    def cached_ids():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    df = spark.createDataFrame(
        [(1, "abab abab ab cd cd")], "doc_id long, text string"
    )
    before = cached_ids()
    vocab, _ranks = train_bpe_tokenizer(
        df, 2, str(tmp_path / "v"), str(tmp_path / "m"), min_count=1
    )
    leaked = cached_ids() - before
    # the ONE allowed survivor: load_bpe_vocab's eager checkpoint of
    # the returned serving frame
    assert len(leaked) <= 1, f"leaked checkpoint RDD blocks: {leaked}"


def test_learn_bpe_tie_break_deterministic(spark):
    # (x,y) and (p,q) both count 2: the pair-key ascending tie-break
    # picks 'p q' < 'x y' regardless of input order
    df = spark.createDataFrame(
        [(1, "xy xy pq pq")], "doc_id long, text string"
    )
    got = learn_bpe_merges(df, 1, min_count=1)
    assert got == [("p", "q", 2)]


def test_learn_bpe_differential_vs_reference(spark, docs):
    """8 rounds over real sf documents: the distributed trainer must
    equal the inline reference trainer rule for rule, count for
    count."""
    sample = docs.limit(120).select("doc_id", "text")
    texts = [r["text"] for r in sample.collect()]
    want = _py_train(texts, 8)
    got = learn_bpe_merges(sample, 8, min_count=1)
    assert got == want
    assert len(got) == 8


def test_learn_bpe_chains_into_exact_replay(spark, tmp_path, docs):
    """The advertised composition: train on the corpus, persist the
    merges artifact, reload, and serve exact-replay counts with it."""
    sample = docs.limit(60)
    learned = learn_bpe_merges(sample, 4, min_count=1)
    assert len(learned) == 4
    pairs = [(a, b) for a, b, _ in learned]
    p = str(tmp_path / "learned_merges")
    save_bpe_merges(merges_from_pairs(spark, pairs), p)
    ranks = load_bpe_merges(spark, p)
    assert ranks == {(a, b): float(i) for i, (a, b) in enumerate(pairs)}
    base = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    vocab = vocab_from_tokens(
        spark, base + [a + b for a, b in pairs if a + b not in base],
        oov_tokens_per_char=0.5,
    )
    out = bpe_token_count_exact(
        sample.limit(5), vocab, ranks, out_col="n"
    ).collect()
    assert all(r["n"] is not None and r["n"] > 0 for r in out)


def test_learn_bpe_sample_fraction_bounds_scan(spark, docs):
    # sampling is a determinism-preserving gate: same seed, same rules
    a = learn_bpe_merges(docs, 3, min_count=1, sample_fraction=0.3, seed=7)
    b = learn_bpe_merges(docs, 3, min_count=1, sample_fraction=0.3, seed=7)
    assert a == b and len(a) == 3


def test_learn_bpe_split_grain_matches_serving_kernel(spark):
    """r11 review regression: Java's \\v escape inside a character
    class is the VERTICAL-WHITESPACE CLASS (includes U+2028/U+2029/
    U+0085), not the VT char Python/RE2 mean — the trainer must
    pre-tokenize on the same six literal characters as the serving
    kernels, so a U+2028 stays IN-WORD and trains a merge."""
    df = spark.createDataFrame(
        [(1, "q w q w")], "doc_id long, text string"
    )
    # one distinct word 'q<U+2028>w' (the serving grain); a widened
    # Java-class split would see single-char words and learn nothing
    got = learn_bpe_merges(df, 1, min_count=1)
    assert got == [("q", " ", 2)]
    # and the serving kernel agrees the corpus is one word per slot
    assert _WS_SPLIT.split("q w q w") == ["q w", "q w"]


def test_load_bpe_merges_rejects_whitespace_sides(spark, tmp_path):
    """r11 review regression: a side carrying a tab survives the
    single-space split ('a\\tb c' -> ('a\\tb', 'c')) but such a rule
    can never fire under whitespace pre-tokenization — corrupt
    artifacts raise, they do not silently shift counts."""
    bad = spark.createDataFrame(
        [("a\tb c", 0.0)], "pair string, rank double"
    )
    p = str(tmp_path / "tabside.parquet")
    bad.coalesce(1).write.parquet(p)
    with pytest.raises(ValueError, match="left right"):
        load_bpe_merges(spark, p)


def test_train_bpe_tokenizer_end_to_end(spark, tmp_path, docs):
    """The one-call composition: artifacts on disk ARE what is
    served, vocab = sorted base alphabet + merge outputs in rank
    order, and the reloaded pair drives exact-replay counting."""
    from wikiextractor_spark.functions.tokenizer import (
        train_bpe_tokenizer,
    )

    sample = docs.limit(60).select("doc_id", "text")
    vp, mp = str(tmp_path / "v"), str(tmp_path / "m")
    vocab, ranks = train_bpe_tokenizer(
        sample, 4, vp, mp, min_count=1, oov_tokens_per_char=0.5
    )
    # the returned pair is the RELOADED artifacts
    assert load_bpe_merges(spark, mp) == ranks and len(ranks) == 4
    rows = {
        r["token"]: r["token_id"]
        for r in load_bpe_vocab(spark, vp).collect()
        if r["token"] is not None
    }
    learned = learn_bpe_merges(sample, 4, min_count=1)
    for a, b, _ in learned:
        assert a + b in rows
    # base alphabet ids come first, sorted by codepoint
    singles = sorted(t for t in rows if len(t) == 1)
    assert [rows[t] for t in singles] == sorted(rows[t] for t in singles)
    # and serving works off the returned pair
    out = bpe_token_count_exact(
        sample.limit(5), vocab, ranks, out_col="n"
    ).collect()
    assert all(r["n"] is not None and r["n"] > 0 for r in out)


def test_train_bpe_tokenizer_guards(spark, tmp_path):
    from wikiextractor_spark.functions.tokenizer import (
        train_bpe_tokenizer,
    )

    empty = spark.createDataFrame(
        [(1, "   "), (2, None)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="no words"):
        train_bpe_tokenizer(
            empty, 2, str(tmp_path / "v"), str(tmp_path / "m")
        )
    tiny = spark.createDataFrame(
        [(1, "abc abd")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="max_chars"):
        train_bpe_tokenizer(
            tiny, 1, str(tmp_path / "v2"), str(tmp_path / "m2"),
            max_chars=2,
        )


def test_train_bpe_tokenizer_dedups_relearned_pairs(
    spark, tmp_path, monkeypatch
):
    """r11 review regression: when two merge chains can produce the
    same symbol, a later round can re-select a pair an earlier rank
    already covers — redundant at serving and illegal in the
    artifact.  The composition drops it, first rank wins."""
    import wikiextractor_spark.functions.tokenizer as tok

    monkeypatch.setattr(
        tok, "_learn_merges",
        lambda *a, **k: [
            ("a", "b", "ab", 9), ("c", "d", "cd", 5), ("a", "b", "ab", 2),
        ],
    )
    df = spark.createDataFrame(
        [(1, "abcd abcd")], "doc_id long, text string"
    )
    vocab, ranks = tok.train_bpe_tokenizer(
        df, 3, str(tmp_path / "v"), str(tmp_path / "m"), min_count=1
    )
    assert ranks == {("a", "b"): 0.0, ("c", "d"): 1.0}


def test_release_local_checkpoint_failure_warns_once(spark):
    """r12 VERDICT #3: the release is best-effort, but a failure must
    be OBSERVABLE — first failure per process warns, later ones stay
    silent, and a successful release never warns."""
    import warnings as _warnings

    import wikiextractor_spark.functions.modelio as mio

    class _Boom:
        @property
        def _jdf(self):
            raise RuntimeError("py4j path renamed")

    prior = mio._RELEASE_WARNED
    try:
        mio._RELEASE_WARNED = False
        with pytest.warns(RuntimeWarning, match="block release failed"):
            mio.release_local_checkpoint(_Boom())
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            mio.release_local_checkpoint(_Boom())  # one-time: silent
        # the success path is silent even with the flag reset
        mio._RELEASE_WARNED = False
        ckpt = spark.createDataFrame(
            [(1,)], "x long"
        ).localCheckpoint(eager=True)
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            mio.release_local_checkpoint(ckpt)
    finally:
        mio._RELEASE_WARNED = prior


# ---------------------------------------------------------------------------
# Special tokens in the exact/ids replay path (r13)
# ---------------------------------------------------------------------------

_EOT = "<|endoftext|>"


def test_special_tokens_published_semantics(spark):
    """Literal special-token text emits exactly the reserved id, split
    out BEFORE pre-tokenization (the published added-token behavior),
    and the surrounding segments tokenize independently.  Overlapping
    specials resolve longest-first."""
    from wikiextractor_spark.functions.tokenizer import bpe_token_ids

    specials = {_EOT: 50256, "<|end|>": 50257}
    texts = [
        _EOT,                                  # alone → one id
        f"the{_EOT}the",                       # segments don't fuse
        f"doc one{_EOT}doc two{_EOT}",         # repeated + trailing
        "no special here",
        f"a <|end|> then {_EOT} both",         # overlap: longest wins
        "", None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 0.5)
    ranks = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    out = bpe_token_ids(
        df, vocab, ranks, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=specials,
    )
    out = bpe_token_count_exact(
        out, vocab, ranks, out_col="n",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=specials,
    )
    # independent restatement: split on the escaped alternation
    # (longest first), specials → their id, segments → the replay
    from wikiextractor_spark.functions.tokenizer import (
        _bpe_replay_symbols,
    )

    enc = gpt2_bytes_to_unicode()
    idmap = {t: i for i, t in enumerate(_G2_TEST_VOCAB)}
    alt = _re.compile(
        "(%s)" % "|".join(
            _re.escape(t)
            for t in sorted(specials, key=len, reverse=True)
        )
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    for i, t in enumerate(texts):
        if t is None:
            assert rows[i]["ids"] is None and rows[i]["n"] is None
            continue
        expect = []
        for k, seg in enumerate(alt.split(t)):
            if k % 2 == 1:
                expect.append(specials[seg])
                continue
            for ptok in _G2RE.findall(seg):
                e = "".join(enc[b] for b in ptok.encode())
                for s in _bpe_replay_symbols(e, ranks):
                    if s in idmap:
                        expect.append(idmap[s])
                    else:
                        expect.extend([-1] * len(s))
        assert list(rows[i]["ids"]) == expect, (t, rows[i]["ids"], expect)
        derived = sum(1.0 if x >= 0 else 0.5 for x in rows[i]["ids"])
        assert rows[i]["n"] == derived
    # the headline fix: the marker alone is ONE id, not byte-grain
    assert list(rows[0]["ids"]) == [50256]
    assert rows[0]["n"] == 1.0
    # without specials the same text charges many byte-grain symbols
    plain = bpe_token_ids(
        df.filter("doc_id = 0"), vocab, ranks, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    ).first()["ids"]
    assert len(plain) > 5 and 50256 not in plain


def test_special_tokens_roundtrip_fim_pack_markers(spark):
    """The engine's own assemble_packs/fim output re-ingested as text
    now counts faithfully: a document carrying the literal separator
    marker costs exactly what the id stream says."""
    from wikiextractor_spark.functions.tokenizer import bpe_token_ids

    df = spark.createDataFrame(
        [(0, f"the thing{_EOT}the thing")], "doc_id long, text string"
    )
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 0.5)
    ranks = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    ids = list(
        bpe_token_ids(
            df, vocab, ranks, out_col="ids",
            byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
            special_tokens={_EOT: 50256},
        ).first()["ids"]
    )
    # exactly one marker id, at the boundary between the two halves
    assert ids.count(50256) == 1
    half = ids[: ids.index(50256)]
    assert ids == half + [50256] + half


def test_greedy_count_honors_special_tokens(spark):
    """r14 (r13 VERDICT What's-wrong #2): the GREEDY counter now
    takes special_tokens through the shared kernel, so a corpus
    carrying literal markers budgets the marker at exactly 1.0 under
    BOTH grains instead of the greedy path silently charging it
    per-character."""
    specials = {_EOT: 50256}
    texts = [_EOT, f"low{_EOT}low", f"lower {_EOT} newest zz", "", None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = vocab_from_tokens(spark, VOCAB, oov_tokens_per_char=0.5)
    got = {
        r["doc_id"]: r["n"]
        for r in bpe_token_count(
            df, vocab, out_col="n", special_tokens=specials
        ).collect()
    }
    # independent restatement: split on the literal marker (capturing
    # alternation — odd indices are markers at 1.0), whitespace-split
    # segments count through the greedy kernel
    vs, lbf = _build_matcher(VOCAB)
    alt = _re.compile("(%s)" % _re.escape(_EOT))
    for i, t in enumerate(texts):
        if t is None:
            assert got[i] is None
            continue
        exp = 0.0
        for k, seg in enumerate(alt.split(t)):
            if k % 2 == 1:
                exp += 1.0
                continue
            for w in _re.split(r"[ \t\n\r\f\v]+", seg):
                if w:
                    exp += _count_word(w, vs, lbf, 0.5)
        assert got[i] == exp, (t, got[i], exp)
    # the headline: the marker alone is ONE token under the greedy
    # grain WITH specials — and matches the exact grain's cost —
    # where the plain greedy run charges its characters
    assert got[0] == 1.0
    exact = bpe_token_count_exact(
        df.filter("doc_id = 0"), vocab, {}, out_col="n",
        special_tokens=specials,
    ).first()["n"]
    assert exact == got[0] == 1.0
    plain = bpe_token_count(
        df.filter("doc_id = 0"), vocab, out_col="n"
    ).first()["n"]
    assert plain > 1.0


def test_special_tokens_contract_errors(spark):
    from wikiextractor_spark.functions.tokenizer import bpe_token_ids

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    vocab = vocab_from_tokens(spark, _G2_TEST_VOCAB, 0.5)
    with pytest.raises(ValueError, match="empty or not strings"):
        bpe_token_ids(df, vocab, {}, special_tokens={"": 1})
    with pytest.raises(ValueError, match="non-integral"):
        bpe_token_ids(df, vocab, {}, special_tokens={_EOT: 1.5})
    with pytest.raises(ValueError, match="negative"):
        bpe_token_ids(df, vocab, {}, special_tokens={_EOT: -2})
    with pytest.raises(ValueError, match="distinct"):
        bpe_token_ids(
            df, vocab, {}, special_tokens={_EOT: 7, "<|end|>": 7}
        )
    with pytest.raises(ValueError, match="non-integral"):
        bpe_token_count_exact(
            df, vocab, {}, special_tokens={_EOT: True}
        )
    # None and numeric STRINGS raise the contract error, not a bare
    # TypeError / silent acceptance (r13 review)
    with pytest.raises(ValueError, match="non-integral"):
        bpe_token_ids(df, vocab, {}, special_tokens={_EOT: None})
    with pytest.raises(ValueError, match="non-integral"):
        bpe_token_ids(df, vocab, {}, special_tokens={_EOT: "50256"})


def test_special_tokens_vocab_id_collision(spark):
    """A special sharing an id with a DIFFERENT vocab token raises
    (ambiguous id stream); the special's own text in the vocab at the
    same id — the published vocab.json layout — passes."""
    from wikiextractor_spark.functions.tokenizer import bpe_token_ids

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    vocab = vocab_from_tokens(spark, ["x", "y"], 0.5)  # ids 0, 1
    with pytest.raises(ValueError, match="collides with vocab token"):
        bpe_token_ids(df, vocab, {}, special_tokens={_EOT: 1})
    # published layout: the special itself IS a vocab entry
    vocab2 = vocab_from_tokens(spark, ["x", _EOT], 0.5)
    ids = list(
        bpe_token_ids(
            df.select("doc_id", F.lit(_EOT).alias("text")),
            vocab2, {}, special_tokens={_EOT: 1},
        ).first()["token_ids"]
    )
    assert ids == [1]


# ---------------------------------------------------------------------------
# Decode adapter (r13): bpe_decode_ids
# ---------------------------------------------------------------------------


def test_decode_round_trips_full_coverage_vocab(spark):
    """On a full-coverage byte-level artifact (all 256 base bytes +
    merge outputs, the published layout) decode(encode(text)) == text
    exactly — including contractions, multi-space, newlines,
    multi-byte chars, and literal special-token text."""
    from wikiextractor_spark.functions.tokenizer import (
        bpe_decode_ids,
        bpe_token_ids,
    )

    enc = gpt2_bytes_to_unicode()
    base = [enc[b] for b in range(256)]
    merges = {p: float(i) for i, p in enumerate(_G2_TEST_MERGES)}
    outputs = []
    for a, b in _G2_TEST_MERGES:
        t = a + b
        if t not in set(base) | set(outputs):
            outputs.append(t)
    vocab = vocab_from_tokens(spark, base + outputs, 1.0)
    specials = {_EOT: 50256}
    texts = [
        "the thing", "don't stop", "a  b   c", "para.\n\nNext",
        "café été", f"doc one{_EOT}doc two", "end.  ", "", None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ids = bpe_token_ids(
        df, vocab, merges, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=specials,
    )
    back = bpe_decode_ids(
        ids, vocab, ids_col="ids", out_col="decoded",
        byte_level=True, special_tokens=specials,
    )
    for r in back.collect():
        want = texts[r["doc_id"]]
        assert r["decoded"] == want, (want, r["decoded"])


def test_decode_round_trips_real_docs(spark, docs):
    from wikiextractor_spark.functions.tokenizer import (
        bpe_decode_ids,
        bpe_token_ids,
    )

    enc = gpt2_bytes_to_unicode()
    vocab = vocab_from_tokens(
        spark, [enc[b] for b in range(256)] + ["th", "the", "in", "ing"],
        1.0,
    )
    merges = {("t", "h"): 0.0, ("th", "e"): 1.0, ("i", "n"): 2.0,
              ("in", "g"): 3.0}
    sample = docs.limit(40).select("doc_id", "text")
    ids = bpe_token_ids(
        sample, vocab, merges, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    back = bpe_decode_ids(
        ids, vocab, ids_col="ids", out_col="decoded", byte_level=True,
    )
    src = {r["doc_id"]: r["text"] for r in sample.collect()}
    for r in back.collect():
        assert r["decoded"] == src[r["doc_id"]]


def test_decode_oov_sentinels_and_contract(spark):
    """-1 decodes to one oov_char per unknown unit; pack/FIM sentinel
    ids must be registered as specials or decode raises; malformed
    multi-byte splits decode with U+FFFD replacement."""
    from wikiextractor_spark.functions.tokenizer import bpe_decode_ids

    vocab = vocab_from_tokens(spark, ["a", "b", "Ã"], 1.0)  # ids 0,1,2
    df = spark.createDataFrame(
        [(0, [0, -1, 1]), (1, [0, 9000, 1]), (2, None), (3, [2])],
        "doc_id long, token_ids array<long>",
    )
    ok = bpe_decode_ids(
        df.filter("doc_id IN (0, 2)"), vocab, out_col="t",
        byte_level=True,
        special_tokens={"<|sep|>": 9000},
    )
    got = {r["doc_id"]: r["t"] for r in ok.collect()}
    assert got[0] == "a?b"
    assert got[2] is None
    # registered sentinel id → marker text verbatim
    withsep = bpe_decode_ids(
        df.filter("doc_id = 1"), vocab, out_col="t", byte_level=True,
        special_tokens={"<|sep|>": 9000},
    ).first()["t"]
    assert withsep == "a<|sep|>b"
    # UNREGISTERED sentinel raises
    with pytest.raises(Exception, match="neither a vocab id"):
        bpe_decode_ids(
            df.filter("doc_id = 1"), vocab, out_col="t", byte_level=True,
        ).collect()
    # a lone UTF-8 lead byte (Ã = 0xC3) → replacement char
    lone = bpe_decode_ids(
        df.filter("doc_id = 3"), vocab, out_col="t", byte_level=True,
    ).first()["t"]
    assert lone == "�"
    # contract errors
    with pytest.raises(ValueError, match="one character"):
        bpe_decode_ids(df, vocab, oov_char="??")
    dup = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0), (None, 1.0)],
        "token string, token_id double",
    )
    with pytest.raises(ValueError, match="duplicate vocab id"):
        bpe_decode_ids(df, dup)
    with pytest.raises(ValueError, match="collides"):
        bpe_decode_ids(
            df, vocab, special_tokens={"<|x|>": 0}, byte_level=True
        )
    # non-byte-level artifact rejected in byte mode
    nb = vocab_from_tokens(spark, ["日"], 1.0)
    with pytest.raises(ValueError, match="outside the byte-level"):
        bpe_decode_ids(df, nb, byte_level=True)


def test_decode_round_trips_fim_and_pack_output(spark):
    """The full emit loop: ids → fim_transform → assemble_packs →
    decode with every sentinel registered — the packed stream decodes
    to the documents' text with markers/separators readable."""
    from wikiextractor_spark.functions.tokenizer import (
        bpe_decode_ids,
        bpe_token_ids,
    )
    from wikiextractor_spark.operators.fim import fim_transform
    from wikiextractor_spark.operators.packing import assemble_packs

    enc = gpt2_bytes_to_unicode()
    vocab = vocab_from_tokens(spark, [enc[b] for b in range(256)], 1.0)
    df = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(6)],
        "doc_id long, text string",
    )
    ids = bpe_token_ids(
        df, vocab, {}, out_col="token_ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    fimmed = fim_transform(
        ids, prefix_id=9001, middle_id=9002, suffix_id=9003,
        fim_rate=0.5,
    )
    packs = assemble_packs(
        fimmed, budget=256, num_groups=1, sep_id=9000,
    )
    decoded = bpe_decode_ids(
        packs, vocab, ids_col="token_ids", out_col="t",
        byte_level=True,
        special_tokens={"<|sep|>": 9000, "<|pre|>": 9001,
                        "<|mid|>": 9002, "<|suf|>": 9003},
    ).collect()
    joined = "".join(r["t"] for r in decoded)
    assert joined.count("<|sep|>") == 6  # one per document
    # lossless content invariant: with markers stripped, the decoded
    # character MULTISET equals the source corpus exactly — FIM only
    # rearranges, packing only concatenates, the vocab covers every
    # byte, so a lost buffer / dropped piece anywhere breaks this
    stripped = joined
    for m in ("<|sep|>", "<|pre|>", "<|mid|>", "<|suf|>"):
        stripped = stripped.replace(m, "")
    src_chars = sorted("".join(f"doc {i} text" for i in range(6)))
    assert sorted(stripped) == src_chars
    # and at least one document genuinely went through the FIM path
    assert "<|pre|>" in joined


def test_decode_rejects_encoded_space_special_shadowing(spark):
    """r13 review: the same-text special/vocab id-share waiver is only
    sound when the text byte-decodes to itself — an encoded-space
    special like 'Ġt' would silently shadow the token's byte decode."""
    from wikiextractor_spark.functions.tokenizer import (
        bpe_decode_ids,
        bpe_token_ids,
    )

    df = spark.createDataFrame(
        [(0, [0])], "doc_id long, token_ids array<long>"
    )
    vocab = vocab_from_tokens(spark, ["Ġt"], 1.0)  # id 0, encoded space
    with pytest.raises(Exception, match="byte-decode to itself"):
        bpe_decode_ids(
            df, vocab, byte_level=True, special_tokens={"Ġt": 0}
        )
    # non-byte-level decode: raw text space, the waiver stays sound
    out = bpe_decode_ids(
        df, vocab, byte_level=False, special_tokens={"Ġt": 0},
        out_col="t",
    ).first()["t"]
    assert out == "Ġt"
    # encode now also rejects duplicate vocab ids (shared policy)
    dupv = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0), (None, 1.0)],
        "token string, token_id double",
    )
    tdf = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="duplicate vocab id"):
        bpe_token_ids(tdf, dupv, {})


def test_train_bpe_tokenizer_vocab_size_budget(spark, tmp_path):
    """vocab_size mode (r14): the merge budget derives from the
    TRAINED alphabet, the final vocabulary never exceeds the budget,
    and the exactly-one contract holds."""
    from wikiextractor_spark.functions.tokenizer import (
        train_bpe_tokenizer,
    )

    df = spark.createDataFrame(
        [(1, "hug hug hug hugs bug bugs mug the the")],
        "doc_id long, text string",
    )
    # alphabet here: {h,u,g,s,b,m,t,e} = 8 chars
    vocab, ranks = train_bpe_tokenizer(
        df, None, str(tmp_path / "v"), str(tmp_path / "m"),
        vocab_size=11, min_count=1,
    )
    toks = [r["token"] for r in vocab.collect() if r["token"] is not None]
    assert len(toks) <= 11
    assert len(ranks) == 3  # 11 - 8
    # exactly one of n_merges / vocab_size
    with pytest.raises(ValueError, match="exactly one"):
        train_bpe_tokenizer(
            df, 2, str(tmp_path / "v2"), str(tmp_path / "m2"),
            vocab_size=11,
        )
    with pytest.raises(ValueError, match="exactly one"):
        train_bpe_tokenizer(
            df, None, str(tmp_path / "v3"), str(tmp_path / "m3")
        )
    # the alphabet floor raises rather than truncating
    with pytest.raises(ValueError, match="exceed vocab_size"):
        train_bpe_tokenizer(
            df, None, str(tmp_path / "v4"), str(tmp_path / "m4"),
            vocab_size=5,
        )


# --------------------------------------------------------------------------
# Byte-level / pre-tokenized BPE TRAINING (r15): train the grain the
# published replay mode serves.
# --------------------------------------------------------------------------

# adversarial corpus: contractions, punctuation runs, multi-space,
# newline runs, trailing whitespace, digits, multi-byte chars
_BL_TEXTS = [
    "don't stop don't stop believing",
    "web-scale   data web-scale data",
    "prix café 2024!! prix café",
    "end.  \n\nnew line  ",
    "we'll they've I'm we'll",
    "naïve déjà-vu naïve ñ",
]


def _ref_bl_train(texts, k, pat, min_count=1):
    """Independent restatement: pre-tokenize with re.findall,
    byte-encode per pre-token, then the Sennrich loop with the
    (count desc, 'a b' asc) tie-break."""
    enc = gpt2_bytes_to_unicode()
    rx = _re.compile(pat)
    freq: dict = {}
    for t in texts:
        if t is None:
            continue
        for pt in rx.findall(t):
            if not pt:
                continue
            e = "".join(enc[b] for b in pt.encode("utf-8"))
            freq[e] = freq.get(e, 0) + 1
    words = {w: (list(w), f) for w, f in freq.items() if len(w) > 1}
    out = []
    for _ in range(k):
        counts: dict = {}
        for syms, f in words.values():
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                counts[pr] = counts.get(pr, 0) + f
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        if cnt < min_count:
            break
        out.append((a, b, cnt))
        nw = {}
        for w, (syms, f) in words.items():
            merged, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            if len(merged) > 1:
                nw[w] = (merged, f)
        words = nw
    return out


def test_learn_bpe_merges_byte_level_differential(spark):
    """The engine's byte-level GPT-2-grain trainer vs the independent
    restatement, on adversaria covering every pre-tokenizer branch
    (contractions, leading-space words, digit/punct runs, whitespace
    runs, multi-byte UTF-8)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BL_TEXTS)],
        "doc_id long, text string",
    )
    got = learn_bpe_merges(
        df, 10, min_count=1,
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    want = _ref_bl_train(_BL_TEXTS, 10, GPT2_PRETOKENIZER_PATTERN)
    assert got == want
    # the learned space starts with a leading-space (Ġ) rule — the
    # grain char-level training can never produce
    assert any("Ġ" in a + b for a, b, _ in got)
    # whitespace-grain byte-level (no pre-tokenizer): legal, and a
    # different rule sequence (no Ġ symbols at all)
    got_ws = learn_bpe_merges(df, 4, min_count=1, byte_level=True)
    assert all("Ġ" not in a + b for a, b, _ in got_ws)


def test_train_grain_guards(spark, tmp_path):
    """pre_tokenizer without byte_level raises on both entry points
    (pre-tokens carry whitespace, which the artifact contract cannot
    express); an empty corpus raises under byte_level too."""
    from wikiextractor_spark.functions.tokenizer import (
        train_bpe_tokenizer,
    )

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="byte_level"):
        learn_bpe_merges(
            df, 2, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN
        )
    with pytest.raises(ValueError, match="byte_level"):
        train_bpe_tokenizer(
            df, 2, str(tmp_path / "v"), str(tmp_path / "m"),
            pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        )
    empty = spark.createDataFrame(
        [(1, "   "), (2, None)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="no words"):
        train_bpe_tokenizer(
            empty, 2, str(tmp_path / "v2"), str(tmp_path / "m2"),
            byte_level=True,
        )


def test_train_bpe_tokenizer_byte_level_round_trip(spark, tmp_path, docs):
    """Train→persist→serve in the SAME symbol space: the trained
    artifacts drive bpe_token_count_exact / bpe_token_ids under
    byte_level + the GPT-2 grain, counts equal an independent
    replay, and decode(encode(text)) == text EXACTLY (full byte
    coverage) on adversarial and real corpus text."""
    from wikiextractor_spark.functions.tokenizer import (
        bpe_decode_ids,
        bpe_token_ids,
        train_bpe_tokenizer,
    )

    real = [r["text"] for r in docs.limit(4).collect()]
    texts = _BL_TEXTS + real
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vp, mp = str(tmp_path / "blv"), str(tmp_path / "blm")
    vocab, ranks = train_bpe_tokenizer(
        df, 8, vp, mp, min_count=1,
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    rows = {
        r["token"]: r["token_id"]
        for r in vocab.collect() if r["token"] is not None
    }
    # the base alphabet is ALL 256 encoded byte symbols, ids 0-255 by
    # codepoint (the published layout), merges after in rank order
    enc_chars = sorted(gpt2_bytes_to_unicode().values())
    assert [rows[c] for c in enc_chars] == list(range(256))
    assert len(rows) == 256 + len(ranks)
    # counts match the independent restatement's replay grain
    want = _ref_bl_train(texts, 8, GPT2_PRETOKENIZER_PATTERN)
    assert [(a, b) for a, b, _ in want] == sorted(
        ranks, key=lambda p: ranks[p]
    )
    # exact round trip through the id stream
    ids = bpe_token_ids(
        df, vocab, ranks, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    dec = bpe_decode_ids(
        ids, vocab, ids_col="ids", out_col="dec", byte_level=True
    )
    for r in dec.collect():
        assert r["dec"] == texts[r["doc_id"]]
    # and no id is the -1 OOV sentinel (full byte coverage)
    assert all(
        all(i >= 0 for i in r["ids"]) for r in ids.collect()
    )


def test_train_bpe_tokenizer_byte_level_vocab_size_budget(
    spark, tmp_path
):
    """vocab_size budgeting under byte_level: merges = vocab_size −
    256, and a budget below the byte alphabet raises."""
    from wikiextractor_spark.functions.tokenizer import (
        train_bpe_tokenizer,
    )

    df = spark.createDataFrame(
        [(1, "hug hug hugs the the")], "doc_id long, text string"
    )
    vocab, ranks = train_bpe_tokenizer(
        df, None, str(tmp_path / "v"), str(tmp_path / "m"),
        vocab_size=259, min_count=1, byte_level=True,
    )
    assert len(ranks) == 3
    with pytest.raises(ValueError, match="exceed vocab_size"):
        train_bpe_tokenizer(
            df, None, str(tmp_path / "v2"), str(tmp_path / "m2"),
            vocab_size=100, byte_level=True,
        )


def test_bl_suffix_pretoken_tables():
    """The ta_term_stats 'bpe_merge_bl' oracle hand-states each
    training suffix's pre-token sequence (RE2 cannot restate the
    GPT-2 lookahead) — pin every table against the published
    pattern, and pin the shape assumptions the oracle's corpus-word
    rule and byte-encode replace chain rely on."""
    from wikiextractor_spark.queries import _BLT_SUFFIXES

    for raw, ptoks in _BLT_SUFFIXES:
        assert _G2RE.findall(raw) == ptoks, raw
        # every suffix opens with \n so the corpus/suffix boundary
        # can never fuse, and carries no chr(1) (the _SEP trick)
        assert raw.startswith("\n") and "\x01" not in raw
        # the oracle byte-encodes via three global replaces — sound
        # only while suffix chars are ASCII-printable, space,
        # newline, or é
        ok = set("\n é")
        assert all(c in ok or "!" <= c <= "~" for c in raw)


# --------------------------------------------------------------------------
# Published-format artifact EXPORT (r15): the exact inverses of the
# merges.txt / vocab.json / vocab.txt importers.
# --------------------------------------------------------------------------


def test_save_bpe_merges_txt_round_trip(spark, tmp_path):
    """Export → reimport returns an EQUAL rank map; re-export is
    byte-identical; malformed tables raise the import path's rules."""
    from wikiextractor_spark.functions.tokenizer import (
        load_bpe_merges_txt,
        save_bpe_merges_txt,
    )

    ranks = {("t", "h"): 0.0, ("th", "e"): 1.0, ("Ġ", "t"): 2.0}
    p = str(tmp_path / "merges.txt")
    save_bpe_merges_txt(spark, ranks, p)
    back = load_bpe_merges_txt(spark, p)
    assert back == ranks
    raw = open(p, encoding="utf-8").read()
    assert raw == "#version: 0.2\nt h\nth e\nĠ t\n"
    p2 = str(tmp_path / "merges2.txt")
    save_bpe_merges_txt(spark, back, p2)
    assert open(p2, "rb").read() == open(p, "rb").read()
    with pytest.raises(ValueError, match="empty merges"):
        save_bpe_merges_txt(spark, {}, p2)
    with pytest.raises(ValueError, match="whitespace-carrying"):
        save_bpe_merges_txt(spark, {("a b", "c"): 0.0}, p2)
    with pytest.raises(ValueError, match="duplicate ranks"):
        save_bpe_merges_txt(
            spark, {("a", "b"): 0.0, ("c", "d"): 0.0}, p2
        )


def test_save_bpe_vocab_json_round_trip(spark, tmp_path):
    """Export → reimport returns the same {token: id} mapping (plus
    the loader's OOV row); re-export is byte-identical; the engine's
    NULL-token OOV row is dropped on export (stated)."""
    import json

    from wikiextractor_spark.functions.tokenizer import (
        load_bpe_vocab_json,
        save_bpe_vocab_json,
    )

    vocab = vocab_from_tokens(
        spark, ["Ġthe", "the", "a", "Ġ"], oov_tokens_per_char=0.25
    )
    p = str(tmp_path / "vocab.json")
    save_bpe_vocab_json(spark, vocab, p)
    obj = json.loads(open(p, encoding="utf-8").read())
    assert obj == {"Ġthe": 0, "the": 1, "a": 2, "Ġ": 3}
    back = load_bpe_vocab_json(spark, p, oov_tokens_per_char=0.25)
    got = {
        r["token"]: r["token_id"]
        for r in back.collect() if r["token"] is not None
    }
    assert got == {t: float(i) for t, i in obj.items()}
    p2 = str(tmp_path / "vocab2.json")
    save_bpe_vocab_json(spark, back, p2)
    assert open(p2, "rb").read() == open(p, "rb").read()
    # fractional ids cannot index an embedding table
    bad = spark.createDataFrame(
        [("a", 0.5), (None, 1.0)], "token string, token_id double"
    )
    with pytest.raises(ValueError, match="non-integral"):
        save_bpe_vocab_json(spark, bad, p2)
    # duplicate token TEXTS (distinct ids) would silently collapse
    # into one JSON entry — raise instead (r15 review)
    dup = spark.createDataFrame(
        [("x", 0.0), ("x", 1.0), (None, 1.0)],
        "token string, token_id double",
    )
    with pytest.raises(ValueError, match="duplicate token texts"):
        save_bpe_vocab_json(spark, dup, p2)


def test_save_wordpiece_vocab_txt_round_trip(spark, tmp_path):
    """Export → reimport returns the identical (token, id) mapping;
    re-export is byte-identical; id gaps / duplicates raise (line
    order IS the id)."""
    from wikiextractor_spark.functions.wordpiece import (
        load_wordpiece_vocab_txt,
        save_wordpiece_vocab_txt,
        wordpiece_from_tokens,
    )

    vocab = wordpiece_from_tokens(
        spark, ["[UNK]", "the", "##ing", "a"]
    )
    p = str(tmp_path / "vocab.txt")
    save_wordpiece_vocab_txt(spark, vocab, p)
    assert open(p, encoding="utf-8").read() == "[UNK]\nthe\n##ing\na\n"
    back = load_wordpiece_vocab_txt(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, vocab.collect())
    )
    p2 = str(tmp_path / "vocab2.txt")
    save_wordpiece_vocab_txt(spark, back, p2)
    assert open(p2, "rb").read() == open(p, "rb").read()
    gap = spark.createDataFrame(
        [("a", 0.0), ("b", 2.0)], "token string, token_id double"
    )
    with pytest.raises(ValueError, match="0..n-1"):
        save_wordpiece_vocab_txt(spark, gap, p2)
    dup = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0)], "token string, token_id double"
    )
    with pytest.raises(ValueError, match="duplicate id"):
        save_wordpiece_vocab_txt(spark, dup, p2)


def test_trained_byte_level_artifacts_export_to_published(
    spark, tmp_path
):
    """The full train-here/serve-anywhere story: train byte-level
    in-engine, export merges.txt + vocab.json, reimport through the
    PUBLISHED loaders, and the published-format artifacts serve the
    IDENTICAL id stream the engine's parquet pair serves."""
    from wikiextractor_spark.functions.tokenizer import (
        bpe_token_ids,
        load_bpe_merges_txt,
        load_bpe_vocab_json,
        save_bpe_merges_txt,
        save_bpe_vocab_json,
        train_bpe_tokenizer,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BL_TEXTS)],
        "doc_id long, text string",
    )
    vocab, ranks = train_bpe_tokenizer(
        df, 6, str(tmp_path / "v"), str(tmp_path / "m"), min_count=1,
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    mt, vj = str(tmp_path / "merges.txt"), str(tmp_path / "vocab.json")
    save_bpe_merges_txt(spark, ranks, mt)
    save_bpe_vocab_json(spark, vocab, vj)
    pub_vocab = load_bpe_vocab_json(spark, vj)
    pub_ranks = load_bpe_merges_txt(spark, mt)
    a = bpe_token_ids(
        df, vocab, ranks, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    ).collect()
    b = bpe_token_ids(
        df, pub_vocab, pub_ranks, out_col="ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    ).collect()
    assert {r["doc_id"]: list(r["ids"]) for r in a} == {
        r["doc_id"]: list(r["ids"]) for r in b
    }


# --------------------------------------------------------------------------
# Train-time reserved special tokens (r15): protected from training,
# reserved at the end of the id space, and threading through the full
# train → tokenize → pack → decode pipeline.
# --------------------------------------------------------------------------

_EOT = "<|endoftext|>"


def test_train_bpe_specials_protected_and_reserved(spark, tmp_path):
    """Specials never shape the pair statistics (a corpus carrying
    literal marker text trains the SAME merges as one without), ride
    at the END of the id space inside the vocab_size budget, and
    collision/shape errors raise."""
    from wikiextractor_spark.functions.tokenizer import (
        train_bpe_tokenizer,
    )

    dirty = [t + _EOT + " the end" + _EOT for t in _BL_TEXTS] + [
        "the end the end"
    ]
    # the protected equivalent: each marker replaced by '\n', which
    # always forms its own pre-token against adjacent non-whitespace
    # and, as a SINGLE encoded char (Ċ), never enters the pair
    # statistics — so protected training over the dirty corpus must
    # learn exactly these merges
    df_base = spark.createDataFrame(
        [(i, t.replace(_EOT, "\n")) for i, t in enumerate(dirty)],
        "doc_id long, text string",
    )
    df_dirty = spark.createDataFrame(
        [(i, t) for i, t in enumerate(dirty)], "doc_id long, text string"
    )
    _v1, r1 = train_bpe_tokenizer(
        df_base, 5, str(tmp_path / "v1"), str(tmp_path / "m1"),
        min_count=2, byte_level=True,
        pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
    )
    v2, r2 = train_bpe_tokenizer(
        df_dirty, 5, str(tmp_path / "v2"), str(tmp_path / "m2"),
        min_count=2, byte_level=True,
        pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=[_EOT],
    )
    assert sorted(r1, key=r1.get) == sorted(r2, key=r2.get)
    rows = {
        r["token"]: int(r["token_id"])
        for r in v2.collect() if r["token"] is not None
    }
    assert rows[_EOT] == max(rows.values())  # reserved LAST
    # budget includes the special
    v3, r3 = train_bpe_tokenizer(
        df_dirty, None, str(tmp_path / "v3"), str(tmp_path / "m3"),
        vocab_size=260, min_count=2, byte_level=True,
        pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=[_EOT],
    )
    n3 = sum(1 for r in v3.collect() if r["token"] is not None)
    assert n3 <= 260 and len(r3) == n3 - 257
    with pytest.raises(ValueError, match="whitespace-carrying"):
        train_bpe_tokenizer(
            df_dirty, 2, str(tmp_path / "v4"), str(tmp_path / "m4"),
            byte_level=True, special_tokens=["a b"],
        )
    with pytest.raises(ValueError, match="duplicate special"):
        train_bpe_tokenizer(
            df_dirty, 2, str(tmp_path / "v5"), str(tmp_path / "m5"),
            byte_level=True, special_tokens=[_EOT, _EOT],
        )
    # plain-grain training with specials routes through the Python
    # kernel path and still protects
    got = learn_bpe_merges(
        df_dirty, 3, min_count=2, special_tokens=[_EOT]
    )
    clean_texts = [
        t + " the end" + " the end" for t in _BL_TEXTS
    ] + ["the end the end"]
    # hand-check vs the char-grain reference over marker-free text:
    # reuse the whitespace grain restatement via learn_bpe_merges on
    # an explicitly cleaned frame
    df_clean = spark.createDataFrame(
        [(i, t.replace(_EOT, " ")) for i, t in enumerate(dirty)],
        "doc_id long, text string",
    )
    want = learn_bpe_merges(df_clean, 3, min_count=2)
    assert got == want


def test_train_tokenize_pack_decode_composition(spark, tmp_path, docs):
    """The END-TO-END pipeline story: train byte-level with a
    reserved <|endoftext|>, tokenize real documents with the trained
    artifact + special, assemble packs separated by the special's
    RESERVED id, and decode the packed stream back — every document
    boundary decodes to the literal marker and each document's text
    round-trips exactly."""
    from wikiextractor_spark.functions.tokenizer import (
        bpe_decode_ids,
        bpe_token_ids,
        train_bpe_tokenizer,
    )
    from wikiextractor_spark.operators.packing import assemble_packs

    sample = docs.limit(6).select("doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}
    vocab, ranks = train_bpe_tokenizer(
        sample, 12, str(tmp_path / "v"), str(tmp_path / "m"),
        min_count=2, byte_level=True,
        pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=[_EOT],
    )
    eot = int(
        max(
            r["token_id"] for r in vocab.collect()
            if r["token"] is not None
        )
    )
    sp = {_EOT: eot}
    ids = bpe_token_ids(
        sample, vocab, ranks, out_col="token_ids",
        byte_level=True, pre_tokenizer=GPT2_PRETOKENIZER_PATTERN,
        special_tokens=sp,
    )
    packs = assemble_packs(ids, budget=100_000, sep_id=eot)
    dec = bpe_decode_ids(
        packs, vocab, ids_col="token_ids", out_col="dec",
        byte_level=True, special_tokens=sp,
    )
    # each pack decodes to its documents' texts, each followed by
    # the literal marker; pack membership is the assigner's choice,
    # so compare the document MULTISET across all packs
    got_docs = []
    for r in dec.collect():
        parts = r["dec"].split(_EOT)
        assert parts[-1] == ""  # every doc ends with the marker
        got_docs.extend(parts[:-1])
    assert sorted(got_docs) == sorted(texts.values())
