"""The r17 driver-side trainer loops must replay the distributed
round loops EXACTLY (merge-for-merge, count-for-count): randomized
differential A/B over every trainer configuration the battery
exercises, with the venue gate forced each way.

The gate (``tokenizer.TRAIN_DRIVER_MAX_WORDS``) picks where the merge
ROUND LOOP runs — locally over the collected distinct-word table
(zero per-round Spark jobs) when the table is driver-sized, or the
unchanged distributed loop above the bound.  Both venues consume the
same one distributed counting shuffle, so equality of the returned
merge lists is the whole contract.
"""

from __future__ import annotations

import random

import pytest

import wikiextractor_spark.functions.tokenizer as tok
import wikiextractor_spark.functions.wordpiece as wp


@pytest.fixture()
def _gate_guard():
    old = tok.TRAIN_DRIVER_MAX_WORDS
    yield
    tok.TRAIN_DRIVER_MAX_WORDS = old


def _rand_corpus(spark, rng, n):
    words = [
        "".join(rng.choice("abcdeé¡☃#") for _ in range(rng.randint(1, 8)))
        for _ in range(n)
    ]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        for _ in range(n)
    ]
    return spark.createDataFrame(
        [(t,) for t in texts], "text string"
    ).localCheckpoint(eager=True)


def test_local_and_distributed_trainers_agree(spark, _gate_guard):
    rng = random.Random(11)
    for trial in range(3):
        df = _rand_corpus(spark, rng, 40 + trial * 40)

        def both(train):
            tok.TRAIN_DRIVER_MAX_WORDS = 1 << 17
            local = train()
            tok.TRAIN_DRIVER_MAX_WORDS = 0
            dist = train()
            return local, dist

        for name, train in (
            ("bpe", lambda: tok.learn_bpe_merges(df, 8, min_count=1)),
            (
                "bpe_byte_level",
                lambda: tok.learn_bpe_merges(
                    df, 6, min_count=1, byte_level=True,
                    pre_tokenizer=tok.GPT2_PRETOKENIZER_PATTERN,
                ),
            ),
            (
                "wordpiece",
                lambda: wp.learn_wordpiece_merges(df, 8, min_count=2),
            ),
            (
                "wordpiece_basic",
                lambda: wp.learn_wordpiece_merges(
                    df, 6, min_count=2, basic_tokenize=True
                ),
            ),
            (
                "wordpiece_min_count_1",
                lambda: wp.learn_wordpiece_merges(df, 5, min_count=1),
            ),
            (
                "bpe_specials",
                lambda: tok.learn_bpe_merges(
                    df, 6, min_count=1, special_tokens=["cd", "☃#"]
                ),
            ),
            (
                "wordpiece_specials",
                lambda: wp.learn_wordpiece_merges(
                    df, 6, min_count=2, special_tokens=["cd", "☃#"]
                ),
            ),
        ):
            local, dist = both(train)
            assert local == dist, (trial, name, local, dist)


@pytest.mark.parametrize("family", ["bpe", "wordpiece"])
def test_distributed_trainers_scan_the_corpus_once(
    spark, _gate_guard, family
):
    """The venue gate reads the checkpointed word table, so a corpus
    above the driver bound is counted once, not once for the gate and
    again for the round loop's table."""
    tok.TRAIN_DRIVER_MAX_WORDS = 0
    sc = spark.sparkContext
    texts = ["abab abab cdcd cd", "abcd ab cd", "dcba ab"] * 3
    scans = sc.accumulator(0)

    def row(t):
        scans.add(1)
        return (t,)

    df = spark.createDataFrame(
        sc.parallelize(texts, 2).map(row), "text string"
    )
    assert scans.value == 0
    train = (
        tok.learn_bpe_merges if family == "bpe"
        else wp.learn_wordpiece_merges
    )
    assert train(df, 3, min_count=1)
    assert scans.value == len(texts)


def test_local_fold_matches_native_fold_semantics(spark, _gate_guard):
    # overlap blocking: "aaa" folds left-to-right to [aa, a]
    assert tok._merge_fold_local(["a", "a", "a"], "a", "a", "aa") == [
        "aa",
        "a",
    ]
    # WordPiece marker absorption inside the fold
    assert tok._merge_fold_local(
        ["x", "##y", "##y"], "x", "##y", "xy"
    ) == ["xy", "##y"]
    # no match passes through
    assert tok._merge_fold_local(["p", "q"], "a", "b", "ab") == ["p", "q"]
