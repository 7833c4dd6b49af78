"""MediaWiki XML dump source (SURVEY.md §2.1).

Catalyst-native: Spark 4's built-in XML source with an explicit,
pruned schema — splittable input, schema-on-read, predicate/column
pruning for free.  The reference's line state machine
(``WikiExtractor.py:586-651``) dissolves into this scan.

Intended-semantics notes (engine contract, documented divergences
from the reference's quirky line parser):

* first-``<id>``-wins (``WikiExtractor.py:606``) is realized by
  selecting the page-level ``id`` and never reading ``revision/id`` —
  the schema simply prunes revision ids out of the scan.
* the reference only recognizes a tag when it is the *first* tag on
  its physical line, silently swallowing text on unusual layouts
  (verified against the reference CLI on adversarial layouts — see
  tests/test_lineparser.py); the XML source parses any well-formed
  layout.
* compressed dumps: Spark/Hadoop auto-detect ``.bz2`` (splittable)
  and ``.gz`` (NOT splittable — one task per file; prefer bz2 or
  multi-file input at scale, SURVEY.md §2.1 S1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from wikiextractor_spark.config import ExtractorConfig

# Explicit page schema: only what the pipeline consumes ever leaves
# the scan (column pruning; reference parity per SURVEY.md §1.3).
PAGE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("title", StringType()),
        StructField(
            "redirect", StructType([StructField("_title", StringType())])
        ),
        StructField(
            "revision",
            StructType(
                [
                    StructField(
                        "text",
                        StructType([StructField("_VALUE", StringType())]),
                    )
                ]
            ),
        ),
    ]
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan a dump into ``(page_id, title, is_redirect, text)`` rows."""
    raw = (
        spark.read.format("xml")
        .option("rowTag", "page")
        .schema(PAGE_SCHEMA)
        .load(path)
    )
    return raw.select(
        F.col("id").alias("page_id"),
        F.col("title"),
        F.col("redirect").isNotNull().alias("is_redirect"),
        F.col("revision.text._VALUE").alias("text"),
    )


def discover_base_prefix(spark: SparkSession, path: str) -> str | None:
    """Read ``/mediawiki/siteinfo/base`` once on the driver and derive
    the URL prefix (reference ``WikiExtractor.py:72-73, 647-651``):
    ``prefix = base[:base.rfind('/')]``.

    Implementation: the ``<base>`` element lives in the dump header,
    so scan only the first lines with the (lazy) text source — an XML
    read with ``rowTag siteinfo`` would parse the ENTIRE dump for one
    header value (measured: 2.2s of a 7.8s pipeline on an 8 MB dump;
    arbitrarily worse at 100 TB).  The value is injected into the plan
    as a literal.

    Multi-file dumps: ``limit(400)`` over the whole load draws rows
    from whichever split Spark schedules first, so the header (always
    in the FIRST file) could be missed.  The probe therefore reads
    only the head of the lexicographically-first file of Spark's own
    listing, which skips ``_``/``.`` names (``_SUCCESS``, ``.crc``)
    exactly as the page scan does.  The listing holds URIs, so the
    first one is unquoted back into a path (``%20`` → space).
    """
    import re as _re
    from urllib.parse import unquote

    base_re = _re.compile(r"<base>(.*?)</base>")
    files = sorted(spark.read.text(path).inputFiles())
    if not files:
        return None
    rows = spark.read.text(unquote(files[0])).limit(400).collect()
    for row in rows:
        m = base_re.search(row["value"])
        if m:
            base = m.group(1)
            return base[: base.rfind("/")]
    return None


def filter_pages(df: DataFrame, cfg: ExtractorConfig = ExtractorConfig()) -> DataFrame:
    """Apply predicates P1/P2/P4 as native Column filters *before* any
    UDF column exists, so Catalyst can push them into/near the scan
    (SURVEY.md §4.1).

    P1: drop redirects (``WikiExtractor.py:612-613, 628-629``).
    P2: namespace filter on the RAW title, case-sensitive
        (``WikiExtractor.py:627-628``).
    P4: incubator mode — title must be ``Wp/LANG/Real[/...]``; the
        emitted title is the *third* component only (``lang[2]``,
        truncating deeper components — reference
        ``WikiExtractor.py:610-611, 631-636``, reproduced exactly).
    """
    out = df.filter(~F.col("is_redirect"))

    colon = F.instr(F.col("title"), ":")
    ns = F.substring_index(F.col("title"), ":", 1)
    accepted = sorted(cfg.accepted_namespaces)
    out = out.filter((colon == 0) | ns.isin(accepted))

    if cfg.incubator:
        parts = F.split(F.col("title"), "/")
        out = (
            out.filter(
                (F.size(parts) > 2) & (parts[1] == F.lit(cfg.incubator))
            )
            .withColumn("title", parts[2])
        )
    return out
