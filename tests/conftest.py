"""Shared fixtures: a reference-module oracle and a local SparkSession."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

REFERENCE_PATH = "/root/reference/WikiExtractor.py"


@pytest.fixture(scope="session")
def reference():
    """Import the reference script as a module to use as a behavioral
    oracle (SURVEY.md §5.3.1).  We replicate its production config:
    ``main()`` always calls ``ignoreTag('a')`` because keepLinks is
    False (reference WikiExtractor.py:712-713).
    """
    spec = importlib.util.spec_from_file_location("wikiextractor_reference", REFERENCE_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["wikiextractor_reference"] = mod
    spec.loader.exec_module(mod)
    mod.ignoreTag("a")
    return mod


@pytest.fixture(scope="session")
def spark():
    from wikiextractor_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="wikiextractor-spark-tests", cpus=int(cpus))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def near_dup_docs(spark):
    """Seeded ``(doc_id, text)`` corpus with planted near-duplicates:
    240 random 40-word docs over a 300-word vocabulary, plus 40
    copies (ids 1000+) of every third doc, every other copy with one
    word replaced."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(40)))
            for i in range(240)]
    for j in range(40):
        words = rows[j * 3][1].split(" ")
        if j % 2:
            words[rng.randrange(len(words))] = "zz"
        rows.append((1000 + j, " ".join(words)))
    return spark.createDataFrame(
        rows, "doc_id long, text string"
    ).localCheckpoint(eager=True)
