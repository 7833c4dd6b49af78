"""Trained language-ID classifier: multi-class Naive Bayes over
hashed CHARACTER n-grams — the fastText/CCNet shape (Joulin et al.
2016; CCNet's first gate), so ``prepare_corpus(target_lang=...)`` can
route through a TRAINED model instead of the stopword heuristic
(:func:`~wikiextractor_spark.functions.textstats.lang_id`), which
only knows four hard-coded languages and nothing about scripts.

Model: per language ``L`` and hashed gram bucket ``b``, the smoothed
log-likelihood ``w(b,L) = ln((n(b,L)+α) / (N(L)+αB))``; a document
scores ``score(L) = prior(L) + Σ_grams w(bucket(g),L)`` and predicts
the argmax — the standard NB decision rule, which is (a) a
closed-form pure AGGREGATION to fit (one explode + groupBy over the
labeled sample; no iterative optimizer — the
:func:`~wikiextractor_spark.functions.classifier.fit_hashed_classifier`
precedent at multi-class), and (b) linear at inference exactly like
fastText.

Character grain, not words: language identity lives in character
statistics (scripts, diacritics, morphology) and survives domains the
way word lists don't — the published fastText lang-ID models are
char-n-gram models.  Normalization is lowercase + whitespace-run
folding ONLY (never strip non-ASCII — the non-ASCII characters ARE
the signal, the opposite of the decontam/DSIR word normalization).

Determinism across the oracle boundary (the DSIR discipline,
``operators/dsir.py``): every weight, class floor, and prior is
QUANTIZED to BIGINT micro-units (``round(ln(·)·1e6)``) at fit time —
all three computed by the SAME engine pass — and scoring is pure
integer addition, order-independent and restatable in SQL.  The only
float crossing is one ``ln()`` per (bucket, language) at fit.
Absent (bucket, language) pairs score the class's smoothing FLOOR
``ln(α/(N(L)+αB))``; the weight table stores the per-pair EXCESS
``Δw = w − floor`` so absent pairs contribute exactly 0 to the
joined sum and the floor rides the gram count:
``score(L) = prior(L) + n_grams·floor(L) + Σ Δw`` — algebraically
the NB sum, with a weight table bounded by present pairs only.

100 TB shape: the FIT touches only the labeled sample (lang-ID
training sets are thousands of lines per language).  SCORING is one
gram explode → one BROADCAST join against the ≤ buckets×|L| weight
table → ONE map-side-combined aggregation at document grain (the
per-language sums are columns of a single groupBy, not |L| shuffles)
→ a native array-struct argmax → one doc-grain join back.  No
Python anywhere; two shuffles total (doc-grain agg + join-back), the
:func:`~wikiextractor_spark.functions.classifier.score_hashed` shape.

No reference counterpart (`/root/reference/WikiExtractor.py` has no
classifier surface) — engine extension (SURVEY.md §2.12; r13 VERDICT
What's-missing #1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from wikiextractor_spark.functions.modelio import release_local_checkpoint

# the md5 bucket construction and bucket-count guard are DSIR's —
# imported, not copied, so the restatable-hash contract cannot drift
from wikiextractor_spark.operators.dsir import _bucket_col

#: weight-table bound: ≤ buckets × |languages| rows ride a broadcast
#: join (a few MB at the default grain) — same class as the hashed
#: content classifier's 2^18 bucket space.
MAX_BUCKETS = 1 << 18

_MICRO = 1_000_000

_DEFAULT_N, _DEFAULT_BUCKETS, _DEFAULT_SALT = 3, 4096, "langid"


def _check_fit_params(n: int, buckets: int, alpha: float) -> None:
    if n < 1:
        raise ValueError(f"langid: need n >= 1, got {n}")
    if not 1 <= buckets <= MAX_BUCKETS:
        raise ValueError(
            f"langid: buckets must be in [1, {MAX_BUCKETS}], got "
            f"{buckets}"
        )
    if alpha <= 0:
        raise ValueError(f"langid: alpha must be > 0, got {alpha}")


def _normalized_sql(text_col: str) -> str:
    """SQL for the lang-ID normalization of ``text_col``: lowercase,
    whitespace runs → one space, trimmed (non-ASCII KEPT)."""
    from wikiextractor_spark.functions.tokenizer import (
        WS_SPLIT_PATTERN_JVM,
    )

    # the pattern constant carries REAL control characters, so the
    # SQL literal needs no escape round trip (an escaped '\f' in an
    # F.expr literal silently degrades to the letter 'f' — caught by
    # the r14 prototype)
    return (
        f"btrim(regexp_replace(lower({text_col}), "
        f"'{WS_SPLIT_PATTERN_JVM}', ' '))"
    )


def _grams_from_normalized(col: str, n: int) -> str:
    """SQL for the gram windows over an already-normalized string
    ``col``: empty → empty array, shorter than ``n`` → one whole-text
    gram, else the sliding ``n``-char windows; NULL stays NULL.  The
    ONE definition fit and predict share, so both see the same gram
    space."""
    return f"""
        CASE WHEN length({col}) = 0 THEN array()
             WHEN length({col}) < {n} THEN array({col})
             ELSE transform(sequence(1, length({col}) - {n} + 1),
                            i -> substring({col}, i, {n}))
        END
        """


def char_grams_expr(text_col: str, n: int) -> F.Column:
    """Array of character ``n``-gram STRINGS over the lang-ID
    normalization (lowercase, whitespace runs → one space, trimmed —
    non-ASCII KEPT): sliding windows including the space joints (the
    fastText boundary signal); text shorter than ``n`` chars is one
    whole-text gram (the DSIR short-doc rule); empty/whitespace-only
    text is an EMPTY array (such a document scores prior-only);
    NULL text stays NULL."""
    return F.expr(
        f"transform(array({_normalized_sql(text_col)}), "
        f"t -> {_grams_from_normalized('t', n)})[0]"
    )


# eq=False: DataFrame/Column fields break dataclass value semantics
# (the dsir.PrebuiltWeights precedent); identity semantics are right
# for a fitted artifact.
@dataclass(frozen=True, eq=False)
class LangIdModel:
    """A fitted lang-ID model.  ``weights`` is the present-pair Δw
    table ``(bucket long, lang string, dwm long)`` — micro-unit
    EXCESS over the class floor, materialized (re-used per action);
    ``priors_micro`` / ``floors_micro`` are per-language micro-unit
    scalars; ``n``/``buckets``/``salt`` define the gram/hash space
    and must ride with the model (they cannot be recovered from the
    table)."""

    langs: tuple[str, ...]
    weights: DataFrame
    priors_micro: dict[str, int]
    floors_micro: dict[str, int]
    n: int
    buckets: int
    salt: str


def fit_langid(
    labeled: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    *,
    n: int = _DEFAULT_N,
    buckets: int = _DEFAULT_BUCKETS,
    salt: str = _DEFAULT_SALT,
    alpha: float = 1.0,
) -> LangIdModel:
    """Fit the NB model on a labeled sample (``label_col`` = the
    language code, ``text_col`` = the text).  One gram explode +
    groupBy(lang, bucket) over the sample — map-side combinable,
    shuffle payload ≤ buckets×|L| rows per task — plus two tiny
    rollups (per-class gram totals with their quantized floors, and
    per-class document counts with their quantized priors), all three
    ``ln``/``round`` quantizations computed by the SAME engine pass
    so no second libm enters the artifact.  Rows with a NULL label or
    NULL text raise (corrupt training data must not silently shape
    the model)."""
    _check_fit_params(n, buckets, alpha)
    # checkpoint the labeled projection ONCE: the NULL-row check, the
    # fit aggregations, and the prior aggregation are separate
    # actions, and without this each re-runs the normalization over
    # the source (r14 ADVICE) — the docstring's scanned-exactly-once
    # rationale holds for the SOURCE scan.  r17: the checkpoint
    # carries the NORMALIZED TEXT, not the gram ARRAYS — the arrays
    # are a several-fold byte blowup of the text (one n-char string
    # per character position, each with per-element overhead), and
    # every consumer can derive them from the text with the same
    # window expression (guide §2.3, materialize fewer bytes; paired
    # interleaved A/B at sf0.1: min 4.47 s vs 5.25 s, model
    # bit-identical).  `_t` is exactly char_grams_expr's inner
    # normalization, so NULL/empty semantics carry: _g NULL ⟺ _t
    # NULL, _g empty ⟺ length(_t) = 0.
    lab = labeled.select(
        F.col(label_col).cast("string").alias("lang"),
        F.expr(_normalized_sql(text_col)).alias("_t"),
    ).localCheckpoint(eager=True)
    grams = F.expr(_grams_from_normalized("_t", n))
    weights = None
    try:
        # r17 optimization (guide §1.2/§2.6): ONE concurrent wave of
        # three driver-blocking actions over the checkpointed
        # projection instead of r16's two sequential waves of five —
        # (a) the NULL-row check and the document-count/prior rollup
        # fuse into one aggregation job (the prior expression is
        # verbatim; the NULL-label group, when present, rides the
        # same rows and is split back out on the driver), and (b) the
        # per-(lang, bucket) counts subplan is no longer materialized
        # between totals and weights — both jobs recompute it from
        # the checkpoint concurrently (the sample is
        # contract-bounded, so the duplicated aggregation is cheaper
        # than a serializing checkpoint wave).  Every aggregation and
        # ln/round quantization expression is unchanged, so model
        # values are identical; validation raise ORDER is preserved
        # below (NULL-row raise first, then the job errors in the
        # r16 consumption order, then the class-count checks).
        from concurrent.futures import ThreadPoolExecutor, wait

        ab = float(alpha) * buckets

        counts = (
            lab.select("lang", F.explode(grams).alias("_gram"))
            .select(
                "lang",
                _bucket_col(F.col("_gram"), buckets, salt).alias("bucket"),
            )
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # per-class gram totals + quantized floors (one tiny agg over
        # the shuffled counts, not a second sample pass)
        totals = counts.groupBy("lang").agg(
            F.sum("cnt").alias("ngr")
        ).select(
            "lang",
            "ngr",
            F.round(
                F.log(F.lit(float(alpha)) / (F.col("ngr") + F.lit(ab)))
                * _MICRO
            ).cast("long").alias("floor_micro"),
        )
        # document counts per class: the prior rollup AND the NULL-row
        # check in one job — nd counts the group's rows (the NULL-lang
        # group collects corrupt labels), nbg its NULL-gram rows among
        # labeled ones; the prior quantization expression is verbatim
        # r16 (same engine ln/round — junk priors of a NULL group are
        # discarded on the driver because the bad raise fires first)
        docn = lab.groupBy("lang").agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum(
                F.when(F.col("_t").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("nbg"),
        )

        def _priors_bad_rows():
            return (
                docn.crossJoin(
                    docn.agg(F.sum("nd").alias("ndt")).select("ndt")
                )
                .select(
                    "lang",
                    F.round(
                        F.log(F.col("nd") * F.lit(1.0) / F.col("ndt"))
                        * _MICRO
                    ).cast("long").alias("prior_micro"),
                    "nd",
                    "nbg",
                )
                .collect()
            )

        def _weights_ckpt():
            return (
                counts.join(F.broadcast(totals), "lang")
                .select(
                    "bucket",
                    "lang",
                    (
                        F.round(
                            F.log(
                                (F.col("cnt") + F.lit(float(alpha)))
                                / (F.col("ngr") + F.lit(ab))
                            )
                            * _MICRO
                        ).cast("long")
                        - F.col("floor_micro")
                    ).alias("dwm"),
                )
                .localCheckpoint(eager=True)
            )

        with ThreadPoolExecutor(max_workers=3) as pool:
            f_p = pool.submit(_priors_bad_rows)
            f_t = pool.submit(totals.collect)
            f_w = pool.submit(_weights_ckpt)
            # every future is retrieved before any result is consumed
            # (r16 ADVICE: a raise mid-wave must not leak the weights
            # checkpoint through an unbound local) — wait, then bind
            # the checkpoint FIRST so the except-path release sees it
            wait([f_p, f_t, f_w])
        werr = f_w.exception()
        if werr is None:
            weights = f_w.result()
        # the NULL-row validation outranks everything (in r16 its job
        # ran — and its raise fired — before the fit wave was even
        # submitted), so its job error and the bad-rows raise both
        # precede the totals/weights job errors
        perr = f_p.exception()
        if perr is not None:
            raise perr
        prows = f_p.result()
        bad = sum(
            int(r["nd"]) if r["lang"] is None else int(r["nbg"] or 0)
            for r in prows
        )
        if bad:
            raise ValueError(
                f"fit_langid: {bad} rows with a NULL label or NULL "
                "text — label every training row (corrupt rows must "
                "not silently shape the model)"
            )
        trows = f_t.result()  # totals job error: next in r16 order
        if werr is not None:
            raise werr
        if len(trows) < 2:
            raise ValueError(
                f"fit_langid: need at least 2 languages with text, got "
                f"{len(trows)} — a one-class classifier predicts nothing"
            )
        floors = {r["lang"]: int(r["floor_micro"]) for r in trows}
        langs = tuple(sorted(floors))
        priors = {r["lang"]: int(r["prior_micro"]) for r in prows}
        # a language whose every document was empty text has a prior
        # but no grams: it would be missing from floors — refuse (its
        # floor is undefined and its class unlearnable)
        if set(priors) != set(floors):
            raise ValueError(
                "fit_langid: languages with documents but no grams "
                f"(empty text only): {sorted(set(priors) - set(floors))}"
            )
    except BaseException:
        # the weights checkpoint may already exist when a validation
        # raises (it is built concurrently with the collects) — on
        # any error path release it like the other checkpoints
        if weights is not None:
            release_local_checkpoint(weights)
        raise
    finally:
        release_local_checkpoint(lab)
    return LangIdModel(
        langs=langs, weights=weights, priors_micro=priors,
        floors_micro=floors, n=n, buckets=buckets, salt=salt,
    )


def langid_scores(
    df: DataFrame,
    model: LangIdModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    pred_col: str = "lang_nb",
    score_col: str = "lang_nb_score_micro",
) -> DataFrame:
    """Attach ``pred_col`` (the argmax language; ties break to the
    lexicographically SMALLEST code — a stated engine convention) and
    ``score_col`` (the winner's integer micro-unit NB score).  NULL
    text predicts NULL; empty text scores prior-only (= the majority
    class).  Plan: gram explode → broadcast Δw join → ONE doc-grain
    aggregation carrying every language's sum as a column → native
    struct-array argmax → one doc-grain join back.  All integer past
    the broadcast table; no Python."""
    langs = model.langs
    grams = df.select(
        F.col(id_col),
        char_grams_expr(text_col, model.n).alias("_g"),
    )
    exploded = grams.select(
        id_col,
        F.size("_g").alias("_ng"),
        F.explode_outer("_g").alias("_gram"),
    ).withColumn(
        "_b",
        F.when(
            F.col("_gram").isNotNull(),
            _bucket_col(F.col("_gram"), model.buckets, model.salt),
        ),
    )
    joined = exploded.join(
        F.broadcast(model.weights.withColumnRenamed("bucket", "_b")),
        "_b",
        "left",
    )
    sums = joined.groupBy(id_col).agg(
        F.min("_ng").alias("_ng"),
        *[
            F.sum(
                F.when(F.col("lang") == lang, F.col("dwm")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias(f"_s{i}")
            for i, lang in enumerate(langs)
        ],
    )
    cand = F.array(
        *[
            F.struct(
                (
                    -(
                        F.lit(model.priors_micro[lang])
                        + F.col("_ng").cast("long")
                        * F.lit(model.floors_micro[lang])
                        + F.coalesce(F.col(f"_s{i}"), F.lit(0))
                    )
                ).alias("ns"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = sums.select(
        id_col, F.array_min(cand).alias("_best")
    ).select(
        id_col,
        F.col("_best.lang").alias(pred_col),
        (-F.col("_best.ns")).alias(score_col),
    )
    out = df.join(best, id_col, "left")
    # NULL text → NULL prediction (the score_hashed NULL contract:
    # every other gate drops NULL text; the trained gate must too)
    return out.withColumn(
        pred_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.col(pred_col)),
    ).withColumn(
        score_col,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .otherwise(F.col(score_col)),
    )


def langid_keep_ids(
    df_slice: DataFrame,
    model: LangIdModel,
    lang: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ the id column of documents the model classifies as ``lang``
    — the semi-join side of the trained gate.  Pass the PRUNED
    ``(id, text)`` slice of the RAW scan, not a gated frame: scoring
    is per-document on unmutated text, so the keep set is identical,
    while scoring a gate-chain output would duplicate the whole
    upstream plan into the score branch (the corpus-gate
    no-plan-duplication rule, measured at 9 min vs seconds there).
    Unknown codes raise (a typo'd code would silently drop the
    corpus)."""
    if lang not in model.langs:
        raise ValueError(
            f"langid_keep_ids: {lang!r} is not one of the model's "
            f"languages {list(model.langs)}"
        )
    scored = langid_scores(df_slice, model, text_col, id_col)
    return scored.filter(F.col("lang_nb") == lang).select(id_col)


def filter_language_nb(
    df: DataFrame,
    model: LangIdModel,
    lang: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep documents the TRAINED model classifies as ``lang`` — the
    CCNet first gate, and the trained backend for
    ``prepare_corpus(target_lang=..., langid_model=...)``.  Shape:
    keep-ids from the PRUNED ``(id, text)`` slice of ``df``
    (:func:`langid_keep_ids`), then one LEFT SEMI join — the score
    branch re-reads only the two-column scan, never a duplicated
    gate chain (r14 review)."""
    keep = langid_keep_ids(
        df.select(id_col, text_col), model, lang, text_col, id_col
    )
    return df.join(keep, id_col, "left_semi")


def save_langid_model(model: LangIdModel, path: str) -> None:
    """Persist the fitted model as one parquet file: the Δw rows plus
    per-language scalar rows (``bucket = -1`` priors, ``bucket = -2``
    floors) and one ``lang = NULL`` config row packing (n, buckets)
    into (bucket, dwm) with the salt in its ``lang``-adjacent slot —
    self-contained like the LM/classifier artifacts.  The salt rides
    as a dedicated ``bucket = -3`` row's lang field."""
    from wikiextractor_spark.functions.modelio import write_one_file

    spark = model.weights.sparkSession
    scalars = [(-1, lang, v) for lang, v in model.priors_micro.items()]
    scalars += [(-2, lang, v) for lang, v in model.floors_micro.items()]
    scalars += [(-3, model.salt, 0), (-4, None, model.n),
                (-5, None, model.buckets)]
    from wikiextractor_spark.localframe import local_rows_df

    extra = local_rows_df(
        spark, scalars, "bucket bigint, lang string, dwm bigint"
    )
    write_one_file(
        model.weights.select(
            F.col("bucket").cast("long"), "lang", "dwm"
        ).unionByName(extra),
        path,
    )


def load_langid_model(spark, path: str) -> LangIdModel:
    """Load a model persisted by :func:`save_langid_model` —
    raise-don't-guess on every malformed shape (missing config rows,
    scalar/weight language mismatch), the modelio discipline."""
    rows = spark.read.parquet(path)
    # a NULL-bucket row would VANISH through every range filter below
    # (NULL comparisons are NULL → dropped), silently deleting a gram
    # weight — catch it on the RAW rows first (r14 third review)
    if rows.filter(F.col("bucket").isNull()).count():
        raise ValueError(
            "load_langid_model: NULL-bucket rows — the artifact is "
            "corrupt"
        )
    cfg_rows = rows.filter(F.col("bucket") < -2).collect()
    cfg = {int(r["bucket"]): r for r in cfg_rows}
    if set(cfg) != {-3, -4, -5} or len(cfg_rows) != 3:
        raise ValueError(
            f"load_langid_model: exactly one config row each of "
            f"-3/-4/-5 required, got buckets {sorted(cfg)} over "
            f"{len(cfg_rows)} rows — not a save_langid_model artifact"
        )
    salt = cfg[-3]["lang"]
    n, buckets = int(cfg[-4]["dwm"]), int(cfg[-5]["dwm"])
    if salt is None:
        raise ValueError("load_langid_model: NULL salt row")
    prior_rows = rows.filter(F.col("bucket") == -1).collect()
    floor_rows = rows.filter(F.col("bucket") == -2).collect()
    priors = {r["lang"]: int(r["dwm"]) for r in prior_rows}
    floors = {r["lang"]: int(r["dwm"]) for r in floor_rows}
    # duplicate scalar rows would collapse last-wins in the dicts —
    # the loaded prior would depend on collect order (r14 third
    # review); and fit_langid refuses a one-class model, so a
    # truncated one-language artifact must not load into a gate that
    # would then keep the ENTIRE corpus
    if (
        not priors
        or set(priors) != set(floors)
        or None in priors
        or len(prior_rows) != len(priors)
        or len(floor_rows) != len(floors)
    ):
        raise ValueError(
            "load_langid_model: per-language prior/floor scalar rows "
            "malformed (must cover the same non-NULL languages, one "
            "row each)"
        )
    if len(priors) < 2:
        raise ValueError(
            "load_langid_model: a one-language artifact — fit_langid "
            "refuses this shape (a one-class classifier predicts "
            "nothing; as a gate it would keep the entire corpus); "
            "the artifact is truncated"
        )
    _check_fit_params(n, buckets, 1.0)
    weights = rows.filter(F.col("bucket") >= 0).select(
        "bucket", "lang", "dwm"
    )
    # raise-don't-guess on corrupt weight rows (r14 review): a bucket
    # at/past the config's hash space can never match any gram (it
    # would silently skew scores), NULL lang/dwm rows would vanish
    # inside the scoring sum, and a DUPLICATE (bucket, lang) row
    # would double-count its dwm through the broadcast join
    n_bad = weights.filter(
        (F.col("bucket") >= buckets)
        | F.col("lang").isNull()
        | F.col("dwm").isNull()
    ).count()
    if n_bad:
        raise ValueError(
            f"load_langid_model: {n_bad} weight rows with an "
            f"out-of-range bucket (>= {buckets}) or NULL lang/dwm — "
            "the artifact is corrupt"
        )
    n_dup = (
        weights.groupBy("bucket", "lang")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    if n_dup:
        raise ValueError(
            f"load_langid_model: {n_dup} duplicate (bucket, lang) "
            "weight rows — scoring would double-count them; the "
            "artifact is corrupt"
        )
    wlangs = {
        r["lang"] for r in weights.select("lang").distinct().collect()
    }
    if not wlangs <= set(priors):
        raise ValueError(
            f"load_langid_model: weight rows for unknown languages "
            f"{sorted(wlangs - set(priors))}"
        )
    return LangIdModel(
        langs=tuple(sorted(priors)),
        weights=weights.localCheckpoint(eager=True),
        priors_micro=priors, floors_micro=floors,
        n=n, buckets=buckets, salt=salt,
    )
