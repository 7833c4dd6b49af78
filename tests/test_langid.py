"""Trained NB lang-ID (functions/langid.py): differential against an
independent pure-Python restatement of the whole fit+score (grams,
md5 buckets, ln→micro quantization, floors/priors, integer argmax),
separation on multilingual sentences, NULL/empty contracts, artifact
round trip, and the prepare_corpus composition."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from wikiextractor_spark.functions import langid

TRAIN = [
    ("en", "the quick brown fox and the lazy dog that it is for to "
           "in was with this from they have not"),
    ("de", "der schnelle braune fuchs und die faule katze das ist "
           "von zu mit den nicht eine wird sind auch"),
    ("es", "el zorro marron rapido y el perro que es en un por con "
           "los las una mañana este desde ellos"),
    ("fr", "le renard brun rapide et le chien est pour que dans sur "
           "les des une avec cette déjà depuis ils"),
]
TEST = [
    ("en", "this is the story of a dog and a fox that went to the "
           "market in the morning"),
    ("de", "die geschichte von einem hund und einem fuchs der nicht "
           "zu dem markt ist"),
    ("es", "la historia de un perro y un zorro que fue por la "
           "mañana con los amigos"),
    ("fr", "cette histoire est pour le chien et le renard qui va "
           "dans les rues sur une place"),
]

N, B, SALT, ALPHA = 3, 512, "t", 1.0


def _grams(t, n=N):
    t = re.sub(r"[ \t\n\r\f\x0b]+", " ", t.lower()).strip(" ")
    if len(t) == 0:
        return []
    if len(t) < n:
        return [t]
    return [t[i:i + n] for i in range(len(t) - n + 1)]


def _bucket(g, buckets=B, salt=SALT):
    h = hashlib.md5((g + salt).encode("utf-8")).hexdigest()
    return int(h[:8], 16) % buckets


def _q(x):
    m = math.floor(abs(x) * 1e6 + 0.5)
    return -m if x < 0 else m


def _py_fit_score(train_rows, test_rows, n=N, buckets=B, salt=SALT,
                  alpha=ALPHA):
    """Independent restatement: NB with add-alpha smoothing, weights
    and floors and priors quantized to micro-units, integer per-doc
    sums, argmax with smallest-lang tie-break."""
    cnt: dict = defaultdict(Counter)
    nd: Counter = Counter()
    for lang, t in train_rows:
        nd[lang] += 1
        for g in _grams(t, n):
            cnt[lang][_bucket(g, buckets, salt)] += 1
    ngr = {L: sum(c.values()) for L, c in cnt.items()}
    ab = alpha * buckets
    floors = {L: _q(math.log(alpha / (ngr[L] + ab))) for L in cnt}
    priors = {L: _q(math.log(nd[L] / sum(nd.values()))) for L in nd}
    dw = {
        (b, L): _q(math.log((c + alpha) / (ngr[L] + ab))) - floors[L]
        for L, cc in cnt.items() for b, c in cc.items()
    }
    out = {}
    for i, t in test_rows:
        if t is None:
            out[i] = (None, None)
            continue
        gs = [_bucket(g, buckets, salt) for g in _grams(t, n)]
        best = None
        for L in sorted(cnt):
            s = priors[L] + len(gs) * floors[L] + sum(
                dw.get((b, L), 0) for b in gs
            )
            k = (-s, L)
            if best is None or k < best:
                best = k
        out[i] = (best[1], -best[0])
    return out


def _train_df(spark, reps=3):
    rows = [
        (i, TRAIN[i % 4][0], TRAIN[i % 4][1] + f" {i}")
        for i in range(4 * reps)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ), [(lang, t) for _i, lang, t in rows]


def test_langid_differential_and_separation(spark):
    df, train_rows = _train_df(spark)
    model = langid.fit_langid(df, n=N, buckets=B, salt=SALT, alpha=ALPHA)
    assert model.langs == ("de", "en", "es", "fr")
    tests = [(i, t) for i, (_l, t) in enumerate(TEST)]
    tests += [(4, ""), (5, None), (6, "zz")]  # prior-only, NULL, short
    tdf = spark.createDataFrame(tests, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["lang_nb"], r["lang_nb_score_micro"])
        for r in langid.langid_scores(tdf, model).collect()
    }
    exp = _py_fit_score(train_rows, tests)
    assert got == exp
    # the separation claim: each test sentence predicts its language
    for i, (lang, _t) in enumerate(TEST):
        assert got[i][0] == lang, (i, got[i])
    # NULL text → NULL; empty text → prior-only majority class
    assert got[5] == (None, None)
    assert got[4][0] in model.langs


def test_langid_differential_real_docs(spark, sf_dir):
    """Fit on spliced labels over the REAL documents text (the fit
    math is label-agnostic), score the same text — differential vs
    the restatement over the collected rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    lab = docs.withColumn(
        "lang",
        F.concat(F.lit("l"), (F.col("doc_id") % 3).cast("string")),
    )
    model = langid.fit_langid(lab, n=N, buckets=B, salt=SALT)
    got = {
        r["doc_id"]: (r["lang_nb"], r["lang_nb_score_micro"])
        for r in langid.langid_scores(docs, model).collect()
    }
    rows = [
        (r["doc_id"], r["text"]) for r in docs.collect()
    ]
    exp = _py_fit_score(
        [(f"l{i % 3}", t) for i, t in rows], rows
    )
    assert got == exp


EDGE = [None, "", "  \t\n ", "ab", "A  b\t\tc  d", "x y"]


def test_langid_fit_grams_equal_predict_grams_on_edge_inputs(spark):
    """Fit derives grams from its checkpointed normalization; predict
    composes char_grams_expr over the raw text.  Both must yield the
    same gram arrays on NULL, empty, whitespace-only, shorter-than-n
    and multi-space texts, and a model fitted on those texts must
    score them as the pure-Python restatement does."""
    df = spark.createDataFrame(
        list(enumerate(EDGE)), "doc_id long, text string"
    )
    predict = dict(
        df.select("doc_id", langid.char_grams_expr("text", N)).collect()
    )
    fit = dict(
        df.select(
            "doc_id", F.expr(langid._normalized_sql("text")).alias("_t")
        )
        .localCheckpoint(eager=True)
        .select("doc_id", F.expr(langid._grams_from_normalized("_t", N)))
        .collect()
    )
    exp = {i: None if t is None else _grams(t) for i, t in enumerate(EDGE)}
    assert fit == predict == exp

    train_rows = [("a", t) for t in EDGE if t is not None]
    train_rows.append(("b", "the quick brown fox"))
    model = langid.fit_langid(
        spark.createDataFrame(train_rows, "lang string, text string"),
        n=N, buckets=B, salt=SALT, alpha=ALPHA,
    )
    got = {
        r["doc_id"]: (r["lang_nb"], r["lang_nb_score_micro"])
        for r in langid.langid_scores(df, model).collect()
    }
    assert got == _py_fit_score(train_rows, list(enumerate(EDGE)))


def test_langid_contract_errors(spark):
    df, _ = _train_df(spark)
    with pytest.raises(ValueError, match="n >= 1"):
        langid.fit_langid(df, n=0)
    with pytest.raises(ValueError, match="buckets"):
        langid.fit_langid(df, buckets=0)
    with pytest.raises(ValueError, match="alpha"):
        langid.fit_langid(df, alpha=0.0)
    with pytest.raises(ValueError, match="NULL label"):
        langid.fit_langid(
            df.withColumn(
                "lang",
                F.when(F.col("doc_id") == 0, F.lit(None)).otherwise(
                    F.col("lang")
                ),
            )
        )
    one = df.withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="at least 2 languages"):
        langid.fit_langid(one)
    model = langid.fit_langid(df, n=N, buckets=B, salt=SALT)
    with pytest.raises(ValueError, match="not one of the model"):
        langid.filter_language_nb(df, model, "zz")


def test_langid_model_round_trip(spark, tmp_path):
    df, train_rows = _train_df(spark)
    model = langid.fit_langid(df, n=N, buckets=B, salt=SALT)
    p = str(tmp_path / "lid")
    langid.save_langid_model(model, p)
    back = langid.load_langid_model(spark, p)
    assert back.langs == model.langs
    assert back.priors_micro == model.priors_micro
    assert back.floors_micro == model.floors_micro
    assert (back.n, back.buckets, back.salt) == (N, B, SALT)
    tdf = spark.createDataFrame(
        [(i, t) for i, (_l, t) in enumerate(TEST)],
        "doc_id long, text string",
    )
    a = {r["doc_id"]: (r["lang_nb"], r["lang_nb_score_micro"])
         for r in langid.langid_scores(tdf, model).collect()}
    b = {r["doc_id"]: (r["lang_nb"], r["lang_nb_score_micro"])
         for r in langid.langid_scores(tdf, back).collect()}
    assert a == b
    # a non-artifact parquet raises, not guesses
    other = str(tmp_path / "not_a_model")
    spark.createDataFrame(
        [(0, "x", 1)], "bucket bigint, lang string, dwm bigint"
    ).write.parquet(other)
    with pytest.raises(Exception, match="config rows|artifact"):
        langid.load_langid_model(spark, other)
    # corrupt weight rows raise, never silently skew scores (r14
    # review): an out-of-range bucket can match no gram; NULL
    # lang/dwm would vanish inside the scoring sum
    corrupt = str(tmp_path / "corrupt")
    spark.read.parquet(p).unionByName(
        spark.createDataFrame(
            [(B + 7, "en", 5)], "bucket bigint, lang string, dwm bigint"
        )
    ).write.parquet(corrupt)
    with pytest.raises(ValueError, match="corrupt"):
        langid.load_langid_model(spark, corrupt)
    nulls = str(tmp_path / "nulls")
    spark.read.parquet(p).unionByName(
        spark.createDataFrame(
            [(3, None, 5)], "bucket bigint, lang string, dwm bigint"
        )
    ).write.parquet(nulls)
    with pytest.raises(ValueError, match="corrupt"):
        langid.load_langid_model(spark, nulls)
    # a NULL-bucket row would vanish through every range filter —
    # caught on the raw rows (r14 third review)
    nb = str(tmp_path / "nullbucket")
    spark.read.parquet(p).unionByName(
        spark.createDataFrame(
            [(None, "en", 5)], "bucket bigint, lang string, dwm bigint"
        )
    ).write.parquet(nb)
    with pytest.raises(ValueError, match="NULL-bucket"):
        langid.load_langid_model(spark, nb)
    # duplicate (bucket, lang) weight rows would double-count dwm
    one_w = spark.read.parquet(p).filter("bucket >= 0").limit(1)
    dup = str(tmp_path / "dupw")
    spark.read.parquet(p).unionByName(one_w).write.parquet(dup)
    with pytest.raises(ValueError, match="duplicate"):
        langid.load_langid_model(spark, dup)
    # duplicate scalar rows: the loaded prior must not depend on
    # collect order
    one_p = spark.read.parquet(p).filter("bucket = -1").limit(1)
    dups = str(tmp_path / "dups")
    spark.read.parquet(p).unionByName(one_p).write.parquet(dups)
    with pytest.raises(ValueError, match="scalar rows"):
        langid.load_langid_model(spark, dups)
    # a truncated ONE-LANGUAGE artifact must refuse to load — as a
    # gate it would keep the entire corpus (fit_langid refuses the
    # same shape)
    onelang = str(tmp_path / "onelang")
    spark.read.parquet(p).filter(
        "lang IS NULL OR lang = 'en' OR bucket < -2"
    ).write.parquet(onelang)
    with pytest.raises(ValueError, match="one-language"):
        langid.load_langid_model(spark, onelang)


def test_langid_prepare_corpus_composition(spark):
    """prepare_corpus(target_lang=..., langid_model=...) routes the
    language gate through the trained classifier; the heuristic path
    stays the default; a model without target_lang raises."""
    from wikiextractor_spark.operators.corpus import prepare_corpus

    fit_df, _ = _train_df(spark)
    model = langid.fit_langid(fit_df, n=N, buckets=B, salt=SALT)
    rows = [(i, TEST[i % 4][1] + f" {i}") for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = prepare_corpus(
        docs, target_lang="de", langid_model=model, dedup=None
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [i for i in range(24) if i % 4 == 1]
    # kept frame keeps the input schema (gate columns dropped)
    assert set(kept.columns) == {"doc_id", "text"}
    with pytest.raises(ValueError, match="without target_lang"):
        prepare_corpus(docs, langid_model=model, dedup=None)


def test_langid_plan_is_broadcast_join(spark):
    """The scoring plan must broadcast the weight table — a shuffle
    join against a ≤ buckets×|L| frame would be the wrong 100 TB
    shape."""
    df, _ = _train_df(spark)
    model = langid.fit_langid(df, n=N, buckets=B, salt=SALT)
    plan = langid.langid_scores(
        df.select("doc_id", "text"), model
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
