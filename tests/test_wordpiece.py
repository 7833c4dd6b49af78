"""WordPiece serving (functions/wordpiece.py): differential against
an independent restatement of the published google-research/bert
``WordpieceTokenizer.tokenize`` loop, the published quirks (whole-word
UNK collapse, oversize→UNK, raw match at position 0), artifact round
trips (parquet + published vocab.txt), and contract errors."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from wikiextractor_spark.functions.wordpiece import (
    _wp_ids_word,
    load_wordpiece_vocab,
    load_wordpiece_vocab_txt,
    save_wordpiece_vocab,
    wordpiece_from_tokens,
    wordpiece_token_count,
    wordpiece_token_ids,
)

VOCAB = [
    "[UNK]", "un", "##aff", "##able", "runn", "##ing", "the",
    "dat", "##a", "ab", "abc", "##c", "a", "##b", "##bc", "##x",
    "r", "u", "n", "##n", "##i", "##g",
]
VID = {t: i for i, t in enumerate(VOCAB)}


def _published_wp(word, vid, max_chars=200, unk="[UNK]"):
    """Independent restatement of the published tokenize() loop
    (token strings, converted to ids at the end)."""
    if len(word) > max_chars:
        return [vid[unk]]
    chars = list(word)
    is_bad = False
    start = 0
    sub_tokens = []
    while start < len(chars):
        end = len(chars)
        cur_substr = None
        while start < end:
            substr = "".join(chars[start:end])
            if start > 0:
                substr = "##" + substr
            if substr in vid:
                cur_substr = substr
                break
            end -= 1
        if cur_substr is None:
            is_bad = True
            break
        sub_tokens.append(cur_substr)
        start = end
    if is_bad:
        return [vid[unk]]
    return [vid[t] for t in sub_tokens]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_published_examples():
    # the canonical example from the published docstring
    assert _wp_ids_word("unaffable", VID, 200, VID["[UNK]"]) == [
        VID["un"], VID["##aff"], VID["##able"],
    ]
    assert _wp_ids_word("running", VID, 200, VID["[UNK]"]) == [
        VID["runn"], VID["##ing"],
    ]
    # greedy longest-first at position 0: "abc" wins over "ab"
    assert _wp_ids_word("abc", VID, 200, VID["[UNK]"]) == [VID["abc"]]
    # and at a continuation position: "##bc" wins over "##b"
    assert _wp_ids_word("aabc", VID, 200, VID["[UNK]"]) == [
        VID["a"], VID["##a"], VID["##bc"],
    ]
    assert _wp_ids_word("aabc", VID, 200, VID["[UNK]"]) == _published_wp(
        "aabc", VID
    )


def test_whole_word_unk_collapse():
    # 'z' has no piece anywhere: the word fails MIDWAY (after
    # emitting pieces) and collapses to ONE [UNK]
    assert _wp_ids_word("unz", VID, 200, VID["[UNK]"]) == [VID["[UNK]"]]
    # failure at position 0
    assert _wp_ids_word("zun", VID, 200, VID["[UNK]"]) == [VID["[UNK]"]]


def test_oversize_word_is_one_unk():
    w = "a" * 201
    assert _wp_ids_word(w, VID, 200, VID["[UNK]"]) == [VID["[UNK]"]]
    # at exactly the bound the word still tokenizes (> not >=)
    w200 = "a" * 200
    assert _wp_ids_word(w200, VID, 200, VID["[UNK]"]) == _published_wp(
        w200, VID
    )


def test_position_zero_raw_match_quirk():
    # published quirk: at start the substring is tried RAW, so the
    # continuation entry '##x' matches a word literally starting
    # with '##'
    assert _wp_ids_word("##x", VID, 200, VID["[UNK]"]) == [VID["##x"]]
    assert _published_wp("##x", VID) == [VID["##x"]]


def test_fuzz_differential_vs_published():
    rng = random.Random(13)
    alpha = "abcdunrigx#z"
    for _ in range(3000):
        w = "".join(
            rng.choice(alpha) for _ in range(rng.randint(1, 12))
        )
        assert _wp_ids_word(w, VID, 200, VID["[UNK]"]) == _published_wp(
            w, VID
        ), w


def test_kernel_on_real_docs_and_count_consistency(spark, docs):
    vocab = wordpiece_from_tokens(spark, VOCAB)
    out = wordpiece_token_ids(docs, vocab, out_col="ids")
    out = wordpiece_token_count(out, vocab, out_col="n")
    rows = out.select("doc_id", "text", "ids", "n").collect()
    assert rows
    import re

    for r in rows:
        if r["text"] is None:
            assert r["ids"] is None and r["n"] is None
            continue
        exp = []
        for w in re.split(r"[ \t\n\r\f\v]+", r["text"]):
            if w:
                exp.extend(_published_wp(w, VID))
        assert list(r["ids"]) == exp, r["doc_id"]
        assert int(r["n"]) == len(exp)


def test_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    vocab = wordpiece_from_tokens(spark, VOCAB)
    rows = {
        r["doc_id"]: (r["ids"], r["n"])
        for r in wordpiece_token_count(
            wordpiece_token_ids(df, vocab, out_col="ids"),
            vocab, out_col="n",
        ).collect()
    }
    assert rows[1] == (None, None)
    assert rows[2] == ([], 0.0)
    assert rows[3] == ([], 0.0)


def test_special_tokens_pre_split(spark):
    df = spark.createDataFrame(
        [(1, "the<|sep|>data end")], "doc_id long, text string"
    )
    vocab = wordpiece_from_tokens(spark, VOCAB)
    r = wordpiece_token_ids(
        df, vocab, out_col="ids", special_tokens={"<|sep|>": 9000}
    ).collect()[0]
    # 'the' | special | 'data' ('dat'+'##a') | 'end' (no 'e' piece →
    # UNK)
    assert list(r["ids"]) == [
        VID["the"], 9000, VID["dat"], VID["##a"], VID["[UNK]"],
    ]
    rc = wordpiece_token_count(
        df, vocab, out_col="n", special_tokens={"<|sep|>": 9000}
    ).collect()[0]
    assert rc["n"] == 5.0


def test_artifact_round_trips(spark, tmp_path):
    vocab = wordpiece_from_tokens(spark, VOCAB)
    save_wordpiece_vocab(vocab, str(tmp_path / "wp"))
    loaded = load_wordpiece_vocab(spark, str(tmp_path / "wp"))
    assert sorted(
        (r["token"], r["token_id"]) for r in loaded.collect()
    ) == sorted((t, float(i)) for i, t in enumerate(VOCAB))

    # published vocab.txt: one token per line, id = line order, a
    # trailing newline tolerated
    p = tmp_path / "vocab.txt"
    p.write_text("\n".join(VOCAB) + "\n", encoding="utf-8")
    txt = load_wordpiece_vocab_txt(spark, str(p))
    assert sorted(
        (r["token"], r["token_id"]) for r in txt.collect()
    ) == sorted((t, float(i)) for i, t in enumerate(VOCAB))


def test_vocab_txt_contract_errors(spark, tmp_path):
    p = tmp_path / "blank.txt"
    p.write_text("a\n\nb\n", encoding="utf-8")
    with pytest.raises(ValueError, match="empty lines"):
        load_wordpiece_vocab_txt(spark, str(p))
    p2 = tmp_path / "dup.txt"
    p2.write_text("a\nb\na\n", encoding="utf-8")
    with pytest.raises(ValueError, match="duplicate"):
        load_wordpiece_vocab_txt(spark, str(p2))


def test_kernel_contract_errors(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    # unk token absent from the vocabulary
    v = wordpiece_from_tokens(spark, ["a", "##a"])
    with pytest.raises(ValueError, match="unk_token"):
        wordpiece_token_ids(df, v, out_col="ids")
    # NULL token row (a scalar-row artifact fed to the wrong loader)
    bad = spark.createDataFrame(
        [("a", 0.0), (None, 1.0)], "token string, token_id double"
    )
    with pytest.raises(ValueError, match="NULL token"):
        wordpiece_token_ids(df, bad, out_col="ids")
    # duplicate ids raise through the shared id-map home
    dup = spark.createDataFrame(
        [("[UNK]", 0.0), ("a", 1.0), ("b", 1.0)],
        "token string, token_id double",
    )
    with pytest.raises(ValueError, match="duplicate vocab id"):
        wordpiece_token_ids(df, dup, out_col="ids")
    # oversize bound must be a positive int
    v2 = wordpiece_from_tokens(spark, ["[UNK]", "a"])
    with pytest.raises(ValueError, match="max_input_chars_per_word"):
        wordpiece_token_ids(df, v2, out_col="ids",
                            max_input_chars_per_word=0)
    # whitespace-carrying vocab entries can never match
    with pytest.raises(ValueError, match="whitespace"):
        wordpiece_from_tokens(spark, ["[UNK]", "a b"])
    with pytest.raises(ValueError, match="duplicate tokens"):
        wordpiece_from_tokens(spark, ["[UNK]", "a", "a"])


def test_wordpiece_feeds_pack_budgets(spark):
    """The ids stream composes with assemble_packs — the reason the
    kernel exists (BERT-class pack budgets)."""
    from wikiextractor_spark.operators.packing import assemble_packs

    df = spark.createDataFrame(
        [(1, "the data"), (2, "running unaffable")],
        "doc_id long, text string",
    )
    vocab = wordpiece_from_tokens(spark, VOCAB)
    ids = wordpiece_token_ids(df, vocab, out_col="token_ids")
    packs = assemble_packs(
        ids.select("doc_id", "token_ids"), budget=16
    ).collect()
    got = sorted(x for p in packs for x in p["token_ids"])
    exp = sorted(
        [VID["the"], VID["dat"], VID["##a"],
         VID["runn"], VID["##ing"], VID["un"], VID["##aff"],
         VID["##able"]]
    )
    assert got == exp


# --------------------------------------------------------------------------
# decode + BasicTokenizer stage
# --------------------------------------------------------------------------

from wikiextractor_spark.functions.wordpiece import (  # noqa: E402
    basic_tokenize_text,
    wordpiece_decode_ids,
)


def _published_basic(text, lower=True, strip=True):
    """Verbatim restatement of the published BasicTokenizer loop at
    the engine's stated scope (no _clean_text / CJK spacing), with
    the engine's combining-class accent rule."""
    import unicodedata

    def is_punct(ch):
        cp = ord(ch)
        if (33 <= cp <= 47) or (58 <= cp <= 64) \
                or (91 <= cp <= 96) or (123 <= cp <= 126):
            return True
        return unicodedata.category(ch).startswith("P")

    out = []
    for tok in text.split():
        if lower:
            tok = tok.lower()
        if strip:
            tok = "".join(
                c for c in unicodedata.normalize("NFD", tok)
                if not unicodedata.combining(c)
            )
        cur = ""
        for ch in tok:
            if is_punct(ch):
                if cur:
                    out.append(cur)
                    cur = ""
                out.append(ch)
            else:
                cur += ch
        if cur:
            out.append(cur)
    return " ".join(out)


def test_decode_published_rule(spark):
    vocab = wordpiece_from_tokens(spark, VOCAB)
    df = spark.createDataFrame(
        [
            (1, "unaffable running"),
            (2, "zzz"),          # whole-word UNK
            (3, None),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    ids = wordpiece_token_ids(df, vocab, out_col="ids")
    rows = {
        r["doc_id"]: r["dec"]
        for r in wordpiece_decode_ids(
            ids, vocab, ids_col="ids", out_col="dec"
        ).collect()
    }
    # round trip exact on single-spaced fully-in-vocab text
    assert rows[1] == "unaffable running"
    assert rows[2] == "[UNK]"
    assert rows[3] is None
    assert rows[4] == ""


def test_decode_specials_and_unregistered_id(spark):
    vocab = wordpiece_from_tokens(spark, VOCAB)
    df = spark.createDataFrame(
        [(1, [VID["the"], 9000, VID["dat"], VID["##a"]])],
        "doc_id long, ids array<long>",
    )
    r = wordpiece_decode_ids(
        df, vocab, ids_col="ids", out_col="dec",
        special_tokens={"<|sep|>": 9000},
    ).collect()[0]
    assert r["dec"] == "the <|sep|> data"
    import re as _re

    from py4j.protocol import Py4JJavaError

    bad = spark.createDataFrame(
        [(1, [VID["the"], 9000])], "doc_id long, ids array<long>"
    )
    with pytest.raises(Exception) as exc:
        wordpiece_decode_ids(
            bad, vocab, ids_col="ids", out_col="dec"
        ).collect()
    assert _re.search(
        "neither a vocab id nor a registered special", str(exc.value)
    )


def test_basic_tokenize_differential(spark):
    cases = [
        "Hello, World!",
        "don't stop-me now...",
        "Ångström's law (v2).",
        "a$b<c>d^e`f|g~h",      # ASCII-range 'punct for consistency'
        "  spread\tout\nlines ",
        "MiXeD CaSe",
        "café, Café; CAFÉ!",
    ]
    rng = random.Random(31)
    alpha = "aB.,!?'-()$~ éÅñ"
    for _ in range(200):
        cases.append(
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 25)))
        )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", basic_tokenize_text("text").alias("b")
        ).collect()
    }
    for i, t in enumerate(cases):
        assert got[i] == _published_basic(t), repr(t)


def test_basic_tokenize_cased_config(spark):
    df = spark.createDataFrame(
        [(1, "Café, Stop!")], "doc_id long, text string"
    )
    r = df.select(
        basic_tokenize_text(
            "text", lower=False, do_strip_accents=False
        ).alias("b")
    ).collect()[0]
    assert r["b"] == _published_basic(
        "Café, Stop!", lower=False, strip=False
    )
    assert r["b"] == "Café , Stop !"


def test_bert_end_to_end_composition(spark):
    """basic_tokenize_text → wordpiece_token_ids is the published
    FullTokenizer pipeline (the tokens are space-joined and the
    wordpiece kernel re-splits on whitespace — equivalent)."""
    vocab = wordpiece_from_tokens(spark, VOCAB + [",", "!"])
    vid = {t: i for i, t in enumerate(VOCAB + [",", "!"])}
    df = spark.createDataFrame(
        [(1, "Unaffable, RUNNING!")], "doc_id long, text string"
    )
    out = wordpiece_token_ids(
        df.select(
            "doc_id", basic_tokenize_text("text").alias("text")
        ),
        vocab, out_col="ids",
    ).collect()[0]
    assert list(out["ids"]) == [
        vid["un"], vid["##aff"], vid["##able"], vid[","],
        vid["runn"], vid["##ing"], vid["!"],
    ]


# --------------------------------------------------------------------------
# in-engine WordPiece training
# --------------------------------------------------------------------------

from wikiextractor_spark.functions.wordpiece import (  # noqa: E402
    _fuse_wp,
    learn_wordpiece_merges,
    learn_wordpiece_vocab,
)


def _py_wp_train(texts, n_merges, min_count=2):
    """Independent restatement of the likelihood-scored trainer:
    word-frequency table at the ##-marked grain, per round pick
    max count(ab)/count(a)/count(b) with the symbol denominators
    counted over the FULL word table (single-character and
    fully-merged words included — the published HF convention, r14)
    and the score evaluated as two divisions (never the integer
    product), lexicographic pair-key tie-break, fuse with ##
    absorbed."""
    import re
    from collections import Counter

    wf = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.split(r"[ \t\n\r\f\v]+", t):
            if w:
                wf[w] += 1
    words = {
        tuple(
            c if i == 0 else "##" + c for i, c in enumerate(word)
        ): f
        for word, f in wf.items()
    }
    merges = []
    for _ in range(n_merges):
        pc, sc = Counter(), Counter()
        for syms, f in words.items():
            for s in syms:  # FULL table: singletons feed denominators
                sc[s] += f
            if len(syms) < 2:
                continue
            for x, y in zip(syms, syms[1:]):
                pc[(x, y)] += f
        eligible = {p: c for p, c in pc.items() if c >= min_count}
        if not eligible:
            break
        # min() with (negated score, ascending key): a [-ord(c)]
        # inversion under max() mishandles prefix-shaped key ties
        # (r13 review)
        best = min(
            eligible,
            key=lambda p: (
                -(eligible[p] / sc[p[0]] / sc[p[1]]),
                p[0] + " " + p[1],
            ),
        )
        a, b = best
        fused = _fuse_wp(a, b)
        merges.append((a, b, fused, pc[best]))
        out = {}
        for syms, f in words.items():
            res, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    res.append(fused)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            key = tuple(res)
            out[key] = out.get(key, 0) + f
        words = out
    return merges


def test_wp_training_differential_toy(spark):
    texts = [
        "hugging hugging hugging face face hug hugs",
        "bug bug mug mugs hug hugging",
        "pun pun pun bun gun gun",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for k in (1, 3, 6):
        got = learn_wordpiece_merges(df, k, min_count=1)
        exp = _py_wp_train(texts, k, min_count=1)
        assert got == exp, k


def test_wp_training_differential_real_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    got = learn_wordpiece_merges(docs, 5)
    exp = _py_wp_train(texts, 5)
    assert got == exp


def test_wp_scoring_differs_from_bpe(spark):
    """The normalized score must pick a DIFFERENT pair than BPE's
    raw count somewhere: 'xy' is the most frequent pair but x and y
    are ubiquitous; 'qz' is rarer but its parts occur nowhere else."""
    from wikiextractor_spark.functions.tokenizer import learn_bpe_merges

    texts = ["xy xy xy xa yb qz"]
    df = spark.createDataFrame([(1, texts[0])], "doc_id long, text string")
    bpe = learn_bpe_merges(df, 1, min_count=1)
    wp = learn_wordpiece_merges(df, 1, min_count=1)
    # raw count: (x,y) fires 3 times vs (q,z) once
    assert bpe[0][:2] == ("x", "y")
    # likelihood: q and ##z occur NOWHERE apart → score 1.0 beats
    # xy's 3/(4·3)
    assert (wp[0][0], wp[0][1]) == ("q", "##z")


def test_wp_vocab_assembly_and_round_trip(spark):
    texts = ["hug hug hug hugs bug bugs"]
    df = spark.createDataFrame([(1, texts[0])], "doc_id long, text string")
    vocab = learn_wordpiece_vocab(df, vocab_size=12, min_count=1)
    assert vocab[0] == "[UNK]"
    # alphabet: bare firsts {h, b} + continuations {##u, ##g, ##s}
    assert set(vocab[1:6]) == {"b", "h", "##u", "##g", "##s"}
    assert vocab[1:6] == sorted(vocab[1:6])
    assert len(vocab) <= 12
    # the learned vocabulary SERVES: train→serve round trip
    ids = wordpiece_token_ids(
        df, wordpiece_from_tokens(spark, vocab), out_col="ids"
    ).collect()[0]["ids"]
    assert all(x != 0 for x in ids)  # nothing UNKs on its own corpus
    # alphabet overflow raises
    with pytest.raises(ValueError, match="alphabet needs"):
        learn_wordpiece_vocab(df, vocab_size=3)


def test_wp_training_contracts(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_merges"):
        learn_wordpiece_merges(df, -1)
    with pytest.raises(ValueError, match="min_count"):
        learn_wordpiece_merges(df, 1, min_count=0)
    with pytest.raises(ValueError, match="vocab_size"):
        learn_wordpiece_vocab(df, 0)
    # single-char words alone yield no pairs: zero merges, alphabet
    # still covers serving
    assert learn_wordpiece_merges(df, 3, min_count=1) == []


def test_wp_min_count_is_a_selection_filter(spark):
    """A count-1 unique-character bigram scores a perfect 1.0 but
    must NOT halt training under min_count=2 — sub-threshold pairs
    are excluded from the argmax, frequent pairs keep merging
    (r13 review)."""
    texts = ["aaab aaab aaab qz"]
    df = spark.createDataFrame([(1, texts[0])], "doc_id long, text string")
    got = learn_wordpiece_merges(df, 2, min_count=2)
    exp = _py_wp_train(texts, 2, min_count=2)
    assert got == exp
    # training proceeded (two merges emitted from the frequent word)
    # and the count-1 (q,##z) — the score-1.0 bigram — never appears
    assert len(got) == 2
    assert all((a, b) != ("q", "##z") for a, b, _f, _c in got)
    # ('##a','##b') beats the score-tied ('a','##a') on the
    # ascending pair key ('#' < 'a') — the stated tie-break
    assert (got[0][0], got[0][1]) == ("##a", "##b")


def test_wp_vocab_dedups_fused_collisions(spark):
    """Words literally carrying the marker can fuse tokens that
    collide with alphabet entries — first occurrence wins and the
    train→serve round trip must not crash (r13 review)."""
    df = spark.createDataFrame(
        [(1, "##x ##x zx")], "doc_id long, text string"
    )
    vocab = learn_wordpiece_vocab(df, vocab_size=20, min_count=1)
    assert len(vocab) == len(set(vocab))
    ids = wordpiece_token_ids(
        df, wordpiece_from_tokens(spark, vocab), out_col="ids"
    ).collect()[0]["ids"]
    assert ids  # serving works on the training corpus


# --------------------------------------------------------------------------
# BasicTokenizer-grain TRAINING (r15): train the grain --basic-tokenize
# serving normalizes to.
# --------------------------------------------------------------------------

_BT_TEXTS = [
    "Café DON'T re-use!!",
    "Élan's naïve mix 42.",
    "web-scale,DATA;end",
    "heLLo   worldé  café DON'T",
]


def _py_basic_one(t):
    import re as _re
    import unicodedata as _ud

    ws = _re.compile(r"[ \t\n\r\f\x0b]+")
    t = ws.sub(" ", t).lower()
    t = "".join(
        c for c in _ud.normalize("NFD", t) if not _ud.combining(c)
    )
    out = []
    for c in t:
        if ("!" <= c <= "/" or ":" <= c <= "@" or "[" <= c <= "`"
                or "{" <= c <= "~"
                or _ud.category(c).startswith("P")):
            out.append(f" {c} ")
        else:
            out.append(c)
    return ws.sub(" ", "".join(out)).strip()


def _ref_wp_train(texts, k, mc, basic=False):
    """Independent restatement of the likelihood-scored trainer,
    optionally over BasicTokenizer-normalized text."""
    freq: dict = {}
    for t in texts:
        if t is None:
            continue
        if basic:
            t = _py_basic_one(t)
        for w in t.split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    words = {
        w: ([w[0]] + ["##" + c for c in w[1:]], f)
        for w, f in freq.items()
    }
    out = []
    for _ in range(k):
        pc: dict = {}
        sc: dict = {}
        for syms, f in words.values():
            for s in syms:
                sc[s] = sc.get(s, 0) + f
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                pc[pr] = pc.get(pr, 0) + f
        elig = [(a, b, c) for (a, b), c in pc.items() if c >= mc]
        if not elig:
            break
        a, b, cnt = min(
            elig,
            key=lambda t: (-(t[2] / sc[t[0]] / sc[t[1]]),
                           t[0] + " " + t[1]),
        )
        fused = a + (b[2:] if b.startswith("##") else b)
        out.append((a, b, fused, cnt))
        nw = {}
        for w, (syms, f) in words.items():
            m, i = [], 0
            while i < len(syms):
                if (i < len(syms) - 1 and syms[i] == a
                        and syms[i + 1] == b):
                    m.append(fused)
                    i += 2
                else:
                    m.append(syms[i])
                    i += 1
            nw[w] = (m, f)
        words = nw
    return out


def test_learn_wordpiece_basic_grain_differential(spark):
    """basic_tokenize=True trains over the normalized grain — engine
    vs the independent restatement on case/accent/punct adversaria,
    and the grains genuinely differ (raw-grain training on the same
    corpus yields a different run)."""
    from wikiextractor_spark.functions.wordpiece import (
        learn_wordpiece_merges,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BT_TEXTS)],
        "doc_id long, text string",
    )
    got = learn_wordpiece_merges(df, 6, min_count=2, basic_tokenize=True)
    want = _ref_wp_train(_BT_TEXTS, 6, 2, basic=True)
    assert got == want
    raw = learn_wordpiece_merges(df, 6, min_count=2)
    assert raw == _ref_wp_train(_BT_TEXTS, 6, 2, basic=False)
    assert got != raw  # the grain is load-bearing on this corpus


def test_learn_wordpiece_vocab_basic_grain_round_trip(spark):
    """Train a full vocab at the basic grain → serve through
    basic_tokenize_text + wordpiece_token_ids: the training corpus
    itself never UNKs (alphabet coverage at the matching grain) —
    exactly the mismatch the raw-grain artifact shows under
    --basic-tokenize serving."""
    from wikiextractor_spark.functions.wordpiece import (
        basic_tokenize_text,
        learn_wordpiece_vocab,
        wordpiece_from_tokens,
        wordpiece_token_ids,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_BT_TEXTS)],
        "doc_id long, text string",
    )
    toks = learn_wordpiece_vocab(
        df, 60, min_count=2, basic_tokenize=True
    )
    vocab = wordpiece_from_tokens(spark, toks)
    unk_id = toks.index("[UNK]")
    served = df.select(
        "doc_id", basic_tokenize_text("text").alias("text")
    )
    rows = wordpiece_token_ids(served, vocab, out_col="ids").collect()
    assert rows and all(
        unk_id not in list(r["ids"]) for r in rows
    )


class TestTrainSpecialTokens:
    """r15 trainer special-token parity: protection (the BPE
    trainer's rule on this family), the published specials-FIRST
    id layout, collision refusal, scope errors."""

    def _corpus(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )

    def test_protection_dirty_equals_clean(self, spark):
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_merges,
        )

        clean = self._corpus(spark, [
            "unaffable running unaffable", "the data the data",
            "running unaffable data",
        ])
        dirty = self._corpus(spark, [
            "unaffable<|sep|>running unaffable",
            "the<|sep|>data the<|sep|>data",
            "running<|sep|>unaffable data<|sep|>",
        ])
        base = learn_wordpiece_merges(clean, 4, min_count=2)
        prot = learn_wordpiece_merges(
            dirty, 4, min_count=2, special_tokens=["<|sep|>"],
        )
        assert base == prot
        # UNPROTECTED dirty training genuinely diverges (the
        # protection is load-bearing, not vacuous)
        raw = learn_wordpiece_merges(dirty, 4, min_count=2)
        assert raw != base

    def test_vocab_layout_specials_first(self, spark):
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_vocab,
        )

        corpus = self._corpus(spark, ["the data the data"])
        toks = learn_wordpiece_vocab(
            corpus, 40, min_count=2,
            special_tokens=["[PAD]", "[UNK]", "[CLS]", "[SEP]"],
        )
        assert toks[:4] == ["[PAD]", "[UNK]", "[CLS]", "[SEP]"]
        assert toks.count("[UNK]") == 1  # unk_token not duplicated
        # unk NOT among the specials: it rides directly after them
        toks2 = learn_wordpiece_vocab(
            corpus, 40, min_count=2, special_tokens=["<s>", "</s>"],
        )
        assert toks2[:3] == ["<s>", "</s>", "[UNK]"]
        # the alphabet follows, deduplicated against the head
        assert "t" in toks2 and len(set(toks2)) == len(toks2)

    def test_budget_counts_specials(self, spark):
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_vocab,
        )

        corpus = self._corpus(spark, ["ab ab"])
        # alphabet = a, ##b → head = 2 specials + [UNK] + 2 = 5
        with pytest.raises(ValueError, match="alphabet needs"):
            learn_wordpiece_vocab(
                corpus, 4, min_count=1,
                special_tokens=["<s>", "</s>"],
            )

    def test_trained_collision_refuses(self, spark):
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_vocab,
        )

        # '##ab' is never a literal substring (protection can't
        # strip it) but the (##a, ##b) merge fuses to exactly it
        corpus = self._corpus(spark, ["xaby xaby xabz xabz"])
        with pytest.raises(ValueError, match="collides"):
            learn_wordpiece_vocab(
                corpus, 40, min_count=2, special_tokens=["##ab"],
            )

    def test_scope_errors(self, spark):
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_merges,
            learn_wordpiece_vocab,
        )

        corpus = self._corpus(spark, ["the data"])
        with pytest.raises(ValueError, match="basic_tokenize"):
            learn_wordpiece_merges(
                corpus, 2, special_tokens=["<s>"],
                basic_tokenize=True,
            )
        with pytest.raises(ValueError, match="basic_tokenize"):
            learn_wordpiece_vocab(
                corpus, 40, special_tokens=["<s>"],
                basic_tokenize=True,
            )

    def test_train_serve_round_trip_with_specials(self, spark):
        from wikiextractor_spark.functions.wordpiece import (
            learn_wordpiece_vocab,
            wordpiece_from_tokens,
            wordpiece_token_ids,
        )

        corpus = self._corpus(spark, [
            "the data the data", "thedata thedata",
        ])
        toks = learn_wordpiece_vocab(
            corpus, 60, min_count=2,
            special_tokens=["[UNK]", "[CLS]", "[SEP]"],
        )
        vocab = wordpiece_from_tokens(spark, toks)
        sids = {t: toks.index(t) for t in ("[CLS]", "[SEP]")}
        ids = wordpiece_token_ids(
            self._corpus(spark, ["[CLS]the data[SEP]"]),
            vocab, out_col="ids", special_tokens=sids,
        )
        got = ids.select("ids").collect()[0]["ids"]
        assert got[0] == toks.index("[CLS]")
        assert got[-1] == toks.index("[SEP]")
        assert all(x >= 0 for x in got)


# --------------------------------------------------------------------------
# r16: _clean_text + CJK spacing — the published defaults now served
# --------------------------------------------------------------------------

def test_clean_and_cjk_published_semantics(spark):
    """Hand-stated published behavior: controls/format chars drop
    (including \\x0b/\\f — they are Cc, NOT whitespace, in the
    published class), whitespace classes (incl. NBSP) fold to one
    space, every CJK ideograph becomes its own token."""
    from wikiextractor_spark.functions.wordpiece import (
        basic_tokenize_one,
        basic_tokenize_text,
    )

    cases = {
        "中文abc漢": "中 文 abc 漢",
        "a​b c\x07d": "ab cd",            # ZWSP (Cf), BEL (Cc)
        "x\x0by\fz": "xyz",                    # Cc, not whitespace
        "n b": "n b",                     # NBSP is whitespace
        "bad�\x00char": "badchar",        # U+FFFD + NUL drop
        "the中200!": "the 中 200 !",
        "﻿bom": "bom",                    # ZWNBSP/BOM is Cf
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)],
        "doc_id long, text string",
    )
    got = [
        r["b"] for r in df.select(
            "doc_id", basic_tokenize_text("text").alias("b")
        ).orderBy("doc_id").collect()
    ]
    for (t, want), g in zip(cases.items(), got):
        assert g == want, repr(t)
        assert basic_tokenize_one(t) == want, repr(t)


def test_clean_cjk_flags_off_reproduce_r15_grain(spark):
    """clean_text=False / handle_chinese_chars=False reproduce the
    pre-r16 chain: \\f/\\v fold to spaces, controls and CJK pass
    through untouched."""
    from wikiextractor_spark.functions.wordpiece import (
        basic_tokenize_one,
        basic_tokenize_text,
    )

    df = spark.createDataFrame(
        [(1, "x\x0by\fz 中文 a​b")],
        "doc_id long, text string",
    )
    r = df.select(
        basic_tokenize_text(
            "text", clean_text=False, handle_chinese_chars=False,
        ).alias("b")
    ).collect()[0]
    assert r["b"] == "x y z 中文 a​b"
    assert basic_tokenize_one(
        "x\x0by\fz 中文 a​b", clean_text=False,
        handle_chinese_chars=False,
    ) == "x y z 中文 a​b"


def test_clean_cjk_native_twin_parity(spark):
    """Column vs Python twin over mixed CJK/control/accents
    adversaria for every flag combination."""
    from wikiextractor_spark.functions.wordpiece import (
        basic_tokenize_one,
        basic_tokenize_text,
    )

    adversaria = [
        "Café中文!", "a​b 中c", "\x07中\x0b文\f",
        "漢字 Strasse ß", "﻿Thé 中;文",
        "㐀ext ⾀0compat",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(adversaria)],
        "doc_id long, text string",
    )
    for clean, cjk in ((True, True), (True, False),
                       (False, True), (False, False)):
        native = [
            r["n"] for r in df.select(
                "doc_id",
                basic_tokenize_text(
                    "text", clean_text=clean,
                    handle_chinese_chars=cjk,
                ).alias("n"),
            ).orderBy("doc_id").collect()
        ]
        twin = [
            basic_tokenize_one(
                t, clean_text=clean, handle_chinese_chars=cjk
            )
            for t in adversaria
        ]
        assert native == twin, (clean, cjk)


def test_multilingual_bert_file_serves_cjk(spark, tmp_path):
    """A stock multilingual-BERT-shape tokenizer.json (BertNormalizer
    with clean_text/handle_chinese_chars true) now tokenizes CJK text
    per character — previously a recorded divergence."""
    import json as _json

    from wikiextractor_spark.functions.tokenizer_json import (
        load_tokenizer_json,
        tokenizer_json_token_ids,
    )

    obj = {
        "normalizer": {
            "type": "BertNormalizer", "clean_text": True,
            "handle_chinese_chars": True, "strip_accents": None,
            "lowercase": True,
        },
        "pre_tokenizer": {"type": "BertPreTokenizer"},
        "model": {
            "type": "WordPiece", "unk_token": "[UNK]",
            "continuing_subword_prefix": "##",
            "vocab": {
                "[UNK]": 0, "中": 1, "文": 2, "the": 3, "##s": 4,
            },
        },
    }
    p = str(tmp_path / "mbert.json")
    with open(p, "w") as f:
        _json.dump(obj, f)
    m = load_tokenizer_json(spark, p)
    assert m.clean_text is True and m.handle_chinese_chars is True
    assert not any(
        d.startswith("normalizer:") for d in m.divergences
    )
    docs = spark.createDataFrame(
        [(1, "the中文s"), (2, "thes 中​文")],
        "doc_id long, text string",
    )
    ids = tokenizer_json_token_ids(docs, m, out_col="ids")
    rows = {r["doc_id"]: r["ids"] for r in ids.collect()}
    # CJK spacing splits the ideographs into their own words —
    # 'the' matches whole, trailing 's' becomes an UNK word
    assert rows[1] == [3, 1, 2, 0]
    # ZWSP dropped by clean_text, CJK split per char:
    # 'thes' = the + ##s, then 中, 文
    assert rows[2] == [3, 4, 1, 2]


def test_export_writes_served_flags(spark, tmp_path):
    from wikiextractor_spark.functions.tokenizer_json import (
        load_tokenizer_json,
        save_tokenizer_json_wordpiece,
    )

    vocab = wordpiece_from_tokens(
        spark, ["[UNK]", "the", "中", "##a"]
    )
    p = str(tmp_path / "wp.json")
    save_tokenizer_json_wordpiece(
        spark, vocab, p, basic_tokenize=True,
    )
    import json as _json
    with open(p) as f:
        raw = _json.load(f)
    assert raw["normalizer"]["clean_text"] is True
    assert raw["normalizer"]["handle_chinese_chars"] is True
    m = load_tokenizer_json(spark, p)
    assert m.clean_text is True and m.handle_chinese_chars is True
    # the off-flags round-trip too
    p2 = str(tmp_path / "wp2.json")
    save_tokenizer_json_wordpiece(
        spark, vocab, p2, basic_tokenize=True,
        clean_text=False, handle_chinese_chars=False,
    )
    m2 = load_tokenizer_json(spark, p2)
    assert m2.clean_text is False
    assert m2.handle_chinese_chars is False
