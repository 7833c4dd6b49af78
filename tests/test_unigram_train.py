"""In-engine unigram-LM training (functions/unigram.py, r14):
differential against an independent pure-Python restatement whose
E-step EXHAUSTIVELY ENUMERATES segmentations (a genuinely different
algorithm from the engine's forward-backward lattice — agreement
pins the lattice math), plus train→persist→serve round trips and
contract errors."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest

from wikiextractor_spark.functions.unigram import (
    MAX_SEED_SIZE,
    learn_unigram_lm,
    load_unigram_lm,
    save_unigram_lm,
    unigram_seed_pieces,
    unigram_token_count,
    unigram_token_ids,
)

_WS = r"[ \t\n\r\f\x0b]+"


def _py_seed(texts, max_piece_len=8, prefix=""):
    wf: Counter = Counter()
    for t in texts:
        if t is None:
            continue
        for w in re.split(_WS, t):
            if w:
                wf[prefix + w] += 1
    occ: Counter = Counter()
    for w, f in wf.items():
        for ln in range(1, min(len(w), max_piece_len) + 1):
            for i in range(len(w) - ln + 1):
                occ[w[i:i + ln]] += f
    return wf, {p: o * len(p) for p, o in occ.items()}


def _enum_expected(word, logp):
    """Expected piece counts for ONE occurrence of word by EXHAUSTIVE
    segmentation enumeration — independent of the engine's
    forward-backward recursion."""
    segs = []

    def rec(i, cur, lp):
        if i == len(word):
            segs.append((lp, tuple(cur)))
            return
        for j in range(i + 1, len(word) + 1):
            p = word[i:j]
            if p in logp:
                rec(j, cur + [p], lp + logp[p])

    rec(0, [], 0.0)
    if not segs:
        return []
    m = max(lp for lp, _s in segs)
    z = sum(math.exp(lp - m) for lp, _s in segs)
    out: Counter = Counter()
    for lp, seg in segs:
        wgt = math.exp(lp - m) / z
        for p in seg:
            out[p] += wgt
    return sorted(out.items())


def _py_alt(piece, logp):
    """Best non-identity segmentation logprob of piece's own string —
    by EXHAUSTIVE enumeration (independent of the engine's Viterbi)."""
    best = [float("-inf")]

    def rec(i, lp):
        if i == len(piece):
            best[0] = max(best[0], lp)
            return
        for j in range(i + 1, len(piece) + 1):
            sub = piece[i:j]
            if sub == piece:
                continue
            if sub in logp:
                rec(j, lp + logp[sub])

    rec(0, 0.0)
    return best[0]


def _micro(x):
    m = math.floor(abs(x) * 1e6 + 0.5)
    return -m if x < 0 else m


def _py_learn(texts, vocab_size, seed_size=None, max_piece_len=8,
              n_em_iters=2, shrink=0.75, unk_penalty=10.0, prefix="",
              prune_rank="count"):
    wf, scores = _py_seed(texts, max_piece_len, prefix)
    scored = sorted(scores.items(), key=lambda t: (-t[1], t[0]))
    singles = {p for p, _s in scored if len(p) == 1}
    if seed_size is None:
        seed_size = min(MAX_SEED_SIZE, 4 * vocab_size)
    kept = set(singles)
    for p, _s in scored:
        if len(kept) >= seed_size:
            break
        kept.add(p)
    tot = sum(s for p, s in scored if p in kept)
    logp = {p: math.log(s / tot) for p, s in scored if p in kept}
    memo: dict = {}

    def em_round(lp):
        counts: Counter = Counter()
        key = tuple(sorted(lp.items()))
        for w, f in wf.items():
            mk = (w, key)
            u = memo.get(mk)
            if u is None:
                u = memo[mk] = _enum_expected(w, lp)
            for p, e in u:
                counts[p] += math.floor(f * e * 1e6 + 0.5)
        return counts

    while True:
        for _ in range(n_em_iters):
            counts = em_round(logp)
            for p in logp:
                if len(p) == 1:
                    counts[p] = max(counts.get(p, 0), 1)
            alive = {p for p in logp if counts.get(p, 0) > 0}
            total = sum(counts[p] for p in alive)
            logp = {p: math.log(counts[p] / total) for p in alive}
        if len(logp) <= vocab_size:
            break
        if prune_rank == "loss":
            def loss(p):
                alt = _py_alt(p, logp)
                if alt == float("-inf"):
                    return float("inf")
                return counts[p] * _micro(logp[p] - alt)

            multi = sorted(
                ((loss(p), p) for p in logp if len(p) > 1),
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
            min(len(multi) - 1, int(len(multi) * shrink)),
        )
        if target_multi < 0:
            target_multi = 0
        survivors = {p for _c, p in multi[:target_multi]}
        survivors |= {p for p in logp if len(p) == 1}
        total = sum(counts[p] for p in survivors)
        logp = {p: math.log(counts[p] / total) for p in survivors}
    unk = min(logp.values()) - unk_penalty
    return logp, unk


def _artifact_dict(lm):
    toks, unk = {}, None
    for r in lm.collect():
        if r["token"] is None:
            unk = r["logprob"]
        else:
            toks[r["token"]] = r["logprob"]
    return toks, unk


TOY = [
    "hug hug hug hugs bug bugs mug",
    "the the then then than hug",
    "pun pun bun gun gun the",
]


def test_unigram_train_differential_toy(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    for vs in (12, 16, 24):  # toy alphabet is 11 singles
        got_toks, got_unk = _artifact_dict(
            learn_unigram_lm(df, vocab_size=vs, max_piece_len=4)
        )
        exp_toks, exp_unk = _py_learn(TOY, vs, max_piece_len=4)
        assert got_toks == exp_toks, vs
        assert got_unk == exp_unk, vs
        assert len(got_toks) <= vs


def test_unigram_train_differential_real_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    got_toks, got_unk = _artifact_dict(
        learn_unigram_lm(docs, vocab_size=40, max_piece_len=5)
    )
    exp_toks, exp_unk = _py_learn(texts, 40, max_piece_len=5)
    assert got_toks == exp_toks
    assert got_unk == exp_unk


def test_unigram_seed_pieces_differential(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    got = {
        r["piece"]: r["score"]
        for r in unigram_seed_pieces(df, max_piece_len=3).collect()
    }
    _wf, exp = _py_seed(TOY, max_piece_len=3)
    assert got == exp


def test_unigram_train_serves_and_round_trips(spark, tmp_path):
    """Train → persist → load → the already-hash-verified serving
    kernels: the training corpus segments with NO unk (all corpus
    characters are seed singles), the trained LM compresses below
    the character grain, and the id/count pair stays consistent."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    lm = learn_unigram_lm(df, vocab_size=15, max_piece_len=4)
    p = str(tmp_path / "ulm")
    save_unigram_lm(lm, p)
    back = load_unigram_lm(spark, p)
    ids = unigram_token_ids(df, back, out_col="ids")
    rows = ids.collect()
    assert all(
        all(x >= 0 for x in r["ids"]) for r in rows
    )  # no -1: full coverage on the training corpus
    n = unigram_token_count(df, back, out_col="n")
    got = {r["doc_id"]: r["n"] for r in n.collect()}
    sizes = {r["doc_id"]: float(len(r["ids"])) for r in rows}
    assert got == sizes
    # compression: multi-char pieces survived, so the token count is
    # strictly below the character count somewhere
    chars = {
        i: len(t.replace(" ", "")) for i, t in enumerate(TOY)
    }
    assert any(got[i] < chars[i] for i in got)


def test_unigram_train_contract_errors(spark):
    df = spark.createDataFrame([(0, "ab ba ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="vocab_size"):
        learn_unigram_lm(df, vocab_size=0)
    with pytest.raises(ValueError, match="alphabet"):
        learn_unigram_lm(df, vocab_size=1)  # corpus alphabet is {a, b}
    with pytest.raises(ValueError, match="seed_size"):
        learn_unigram_lm(df, vocab_size=5, seed_size=2)
    with pytest.raises(ValueError, match="shrink_factor"):
        learn_unigram_lm(df, vocab_size=5, shrink_factor=1.0)
    with pytest.raises(ValueError, match="n_em_iters"):
        learn_unigram_lm(df, vocab_size=5, n_em_iters=0)
    with pytest.raises(ValueError, match="max_piece_len"):
        unigram_seed_pieces(df, max_piece_len=0)
    empty = spark.createDataFrame(
        [(0, " ")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        learn_unigram_lm(empty, vocab_size=5)


# --------------------------------------------------------------------------
# Marker-grain training (r15): learn_unigram_lm(space_marker='▁') +
# the plain-artifact-under-marker-mode serve guard.
# --------------------------------------------------------------------------


def test_unigram_train_marker_differential(spark):
    """Marker-grain training == the independent restatement over
    '▁'-prefixed words — and the trained pieces include the
    '▁x'-style forms marker-mode serving matches."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    got_toks, got_unk = _artifact_dict(
        learn_unigram_lm(
            df, vocab_size=18, max_piece_len=4, space_marker="▁"
        )
    )
    exp_toks, exp_unk = _py_learn(TOY, 18, max_piece_len=4, prefix="▁")
    assert got_toks == exp_toks
    assert got_unk == exp_unk
    assert any(t.startswith("▁") and len(t) > 1 for t in got_toks)


def test_unigram_seed_pieces_marker_differential(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    got = {
        r["piece"]: r["score"]
        for r in unigram_seed_pieces(
            df, max_piece_len=3, space_marker="▁"
        ).collect()
    }
    _wf, exp = _py_seed(TOY, max_piece_len=3, prefix="▁")
    assert got == exp


def test_unigram_train_marker_serves_and_round_trips(spark, tmp_path):
    """Train under the marker grain → persist → the marker-mode
    serving kernels: full coverage on the training corpus (no -1),
    count == len(ids), and the published detokenization round-trips
    the single-spaced training text EXACTLY."""
    from wikiextractor_spark.functions.unigram import (
        unigram_decode_ids,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    lm = learn_unigram_lm(
        df, vocab_size=18, max_piece_len=4, space_marker="▁"
    )
    p = str(tmp_path / "ulm_sp")
    save_unigram_lm(lm, p)
    back = load_unigram_lm(spark, p)
    ids = unigram_token_ids(df, back, out_col="ids", space_marker="▁")
    rows = ids.collect()
    assert all(all(x >= 0 for x in r["ids"]) for r in rows)
    n = unigram_token_count(df, back, out_col="n", space_marker="▁")
    got = {r["doc_id"]: r["n"] for r in n.collect()}
    assert got == {r["doc_id"]: float(len(r["ids"])) for r in rows}
    dec = unigram_decode_ids(
        ids, back, ids_col="ids", out_col="dec", space_marker="▁"
    )
    for r in dec.collect():
        assert r["dec"] == TOY[r["doc_id"]]


def test_plain_artifact_under_marker_mode_raises(spark):
    """The r14 VERDICT's what's-wrong #1: a plain-grain artifact
    (exactly what learn_unigram_lm without space_marker produces)
    under marker mode would degrade every word-initial character to
    UNK — all three serving kernels now raise instead; plain-mode
    serving of the same artifact stays legal, and a marker-trained
    artifact passes the guard."""
    from wikiextractor_spark.functions.unigram import (
        unigram_decode_ids,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    plain = learn_unigram_lm(df, vocab_size=15, max_piece_len=4)
    with pytest.raises(ValueError, match="ZERO marker-prefixed"):
        unigram_token_count(df, plain, space_marker="▁")
    with pytest.raises(ValueError, match="ZERO marker-prefixed"):
        unigram_token_ids(df, plain, space_marker="▁")
    with pytest.raises(ValueError, match="ZERO marker-prefixed"):
        unigram_decode_ids(
            df.withColumnRenamed("doc_id", "ids"), plain,
            ids_col="ids", space_marker="▁",
        )
    assert unigram_token_count(df, plain, out_col="n").count() == 3
    marked = learn_unigram_lm(
        df, vocab_size=18, max_piece_len=4, space_marker="▁"
    )
    assert unigram_token_count(
        df, marked, out_col="n", space_marker="▁"
    ).count() == 3


# --------------------------------------------------------------------------
# Loss-ranked prune (r15): Kudo's likelihood-loss-if-removed criterion.
# --------------------------------------------------------------------------


def test_unigram_train_loss_prune_differential(spark):
    """prune_rank='loss' == the independent restatement whose
    alternative-segmentation score comes from EXHAUSTIVE enumeration
    (the engine uses Viterbi) — on the toy corpus and at several
    budgets."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    for vs in (12, 14, 16):
        got_toks, got_unk = _artifact_dict(
            learn_unigram_lm(
                df, vocab_size=vs, max_piece_len=4, prune_rank="loss"
            )
        )
        exp_toks, exp_unk = _py_learn(
            TOY, vs, max_piece_len=4, prune_rank="loss"
        )
        assert got_toks == exp_toks, vs
        assert got_unk == exp_unk, vs


def test_unigram_train_loss_prune_real_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    got_toks, got_unk = _artifact_dict(
        learn_unigram_lm(
            docs, vocab_size=40, max_piece_len=5, prune_rank="loss"
        )
    )
    exp_toks, exp_unk = _py_learn(
        texts, 40, max_piece_len=5, prune_rank="loss"
    )
    assert got_toks == exp_toks
    assert got_unk == exp_unk


def test_unigram_train_loss_vs_count_rank_diverge():
    """The two ranks are genuinely different criteria: build a state
    where a high-count but REDUNDANT piece (its parts are nearly
    free) outranks an irreplaceable one under count and underranks
    it under loss.  Restatement-level (the rank functions), so the
    divergence is pinned without hunting for a corpus that shows it
    end-to-end."""
    logp = {
        "ab": -1.0, "a": -1.2, "b": -1.3,   # 'ab' ~ free via a+b
        "xy": -2.0, "x": -9.0, "y": -9.0,   # 'xy' irreplaceable
    }
    counts = {"ab": 1000, "xy": 100, "a": 1, "b": 1, "x": 1, "y": 1}
    by_count = sorted(
        ((counts[p], p) for p in logp if len(p) > 1),
        key=lambda t: (-t[0], t[1]),
    )
    by_loss = sorted(
        ((counts[p] * _micro(logp[p] - _py_alt(p, logp)), p)
         for p in logp if len(p) > 1),
        key=lambda t: (-t[0], t[1]),
    )
    assert [p for _c, p in by_count] == ["ab", "xy"]
    assert [p for _c, p in by_loss] == ["xy", "ab"]


def test_unigram_train_loss_prune_contract(spark):
    df = spark.createDataFrame([(0, "ab ba ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="prune_rank"):
        learn_unigram_lm(df, vocab_size=3, prune_rank="entropy")


def test_save_unigram_lm_tsv_round_trip(spark, tmp_path):
    """Export in the published .vocab shape → reimport through the
    existing TSV loader returns the identical model; re-export is
    byte-identical; the unk row is dropped on export (stated)."""
    from wikiextractor_spark.functions.unigram import (
        save_unigram_lm_tsv,
        unigram_from_tokens,
    )

    toks = {"▁the": -2.0, "the": -2.5, "a": -4.25, "x": -4.75}
    lm = unigram_from_tokens(spark, toks, -10.0)
    p = str(tmp_path / "m.vocab")
    save_unigram_lm_tsv(spark, lm, p)
    raw = open(p, encoding="utf-8").read()
    assert raw == "▁the\t-2.0\nthe\t-2.5\na\t-4.25\nx\t-4.75\n"
    back = load_unigram_lm(spark, p, fmt="tsv", unk_logprob=-10.0)
    got, unk = _artifact_dict(back)
    assert got == toks and unk == -10.0
    p2 = str(tmp_path / "m2.vocab")
    save_unigram_lm_tsv(spark, back, p2)
    assert open(p2, "rb").read() == open(p, "rb").read()


def test_unigram_train_marker_plus_loss_differential(spark):
    """The two r15 trainer modes COMPOSE: marker-grain training with
    the loss-ranked prune matches the independent restatement running
    both, and the artifact serves marker-mode round trips."""
    from wikiextractor_spark.functions.unigram import (
        unigram_decode_ids,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOY)], "doc_id long, text string"
    )
    lm = learn_unigram_lm(
        df, vocab_size=18, max_piece_len=4,
        space_marker="▁", prune_rank="loss",
    )
    got_toks, got_unk = _artifact_dict(lm)
    exp_toks, exp_unk = _py_learn(
        TOY, 18, max_piece_len=4, prefix="▁", prune_rank="loss"
    )
    assert got_toks == exp_toks and got_unk == exp_unk
    ids = unigram_token_ids(df, lm, out_col="ids", space_marker="▁")
    dec = unigram_decode_ids(
        ids, lm, ids_col="ids", out_col="dec", space_marker="▁"
    )
    for r in dec.collect():
        assert r["dec"] == TOY[r["doc_id"]]


def test_unigram_seed_pieces_marker_words_exclusive(spark):
    """space_marker with a pre-built _words table is a contradiction
    (the grain is already fixed) — raise, never silently return
    plain-grain candidates (r15 second review)."""
    df = spark.createDataFrame([(0, "ab ba")], "doc_id long, text string")
    from wikiextractor_spark.functions.tokenizer import _word_counts

    words, _bc = _word_counts(df, "text", None, 0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        unigram_seed_pieces(df, space_marker="▁", _words=words)


class TestTrainSpecialTokens:
    """r15: learn_unigram_lm(special_tokens=) — protection at the
    word grain (the BPE/WordPiece trainers' rule), composition with
    the marker grain, shape errors."""

    def _corpus(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )

    def _lm_dict(self, lm):
        return {
            r["token"]: round(r["logprob"], 12)
            for r in lm.collect() if r["token"] is not None
        }

    def test_protection_dirty_equals_clean(self, spark):
        from wikiextractor_spark.functions.unigram import (
            learn_unigram_lm,
        )

        clean = self._corpus(spark, [
            "the data the data", "data the data",
        ])
        dirty = self._corpus(spark, [
            "the<s>data the<s>data", "data<s>the data<s>",
        ])
        base = learn_unigram_lm(clean, 12, seed_size=24)
        prot = learn_unigram_lm(
            dirty, 12, seed_size=24, special_tokens=["<s>"],
        )
        assert self._lm_dict(base) == self._lm_dict(prot)
        # unprotected dirty training genuinely diverges
        raw = learn_unigram_lm(dirty, 12, seed_size=24)
        assert self._lm_dict(raw) != self._lm_dict(base)
        # no trained piece can ever equal a protected text
        assert "<s>" not in self._lm_dict(prot)

    def test_composes_with_marker_grain(self, spark):
        from wikiextractor_spark.functions.unigram import (
            learn_unigram_lm,
            unigram_token_ids,
        )

        dirty = self._corpus(spark, [
            "the<s>data the<s>data", "data<s>the data<s>",
        ])
        lm = learn_unigram_lm(
            dirty, 14, seed_size=28, space_marker="▁",
            special_tokens=["<s>"],
        )
        toks = self._lm_dict(lm)
        assert any(t.startswith("▁") for t in toks)
        # serve with the special as an overlay beyond the table
        ids = unigram_token_ids(
            self._corpus(spark, ["the<s>data"]), lm, out_col="ids",
            special_tokens={"<s>": 10_000}, space_marker="▁",
            oversize_word="chars",
        )
        got = list(ids.select("ids").collect()[0]["ids"])
        assert 10_000 in got

    def test_shape_errors(self, spark):
        from wikiextractor_spark.functions.unigram import (
            learn_unigram_lm,
        )

        corpus = self._corpus(spark, ["the data"])
        with pytest.raises(ValueError, match="whitespace"):
            learn_unigram_lm(
                corpus, 8, special_tokens=["a b"],
            )
        with pytest.raises(ValueError, match="duplicate"):
            learn_unigram_lm(
                corpus, 8, special_tokens=["<s>", "<s>"],
            )
