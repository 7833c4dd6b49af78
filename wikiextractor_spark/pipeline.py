"""End-to-end extraction pipeline — the whole reference program as one
narrow, shuffle-free DataFrame plan (SURVEY.md §3.3):

    xml scan → native filters (P1-P4) → [vital broadcast joins] →
    clean UDF → compact UDF → render → write.text

No shuffle once the scan has a split per core (a narrower scan, such
as one dump file, is spread once before the UDF stage), so throughput
scales linearly with input splits at any data size — the property
that matters at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from wikiextractor_spark.config import ExtractorConfig
from wikiextractor_spark.operators.skew import spread_for_compute
from wikiextractor_spark.sink import render_documents, write_documents
from wikiextractor_spark.sources.dump import (
    discover_base_prefix,
    filter_pages,
    read_pages,
)
from wikiextractor_spark.sources.vital import apply_vital_filter, read_vital_titles
from wikiextractor_spark.udfs import make_clean_udf, make_compact_udf


def dump_pages(
    spark: SparkSession,
    dump_path: str,
    cfg: ExtractorConfig,
    read: Callable[[SparkSession, str], DataFrame] = read_pages,
) -> DataFrame:
    """Dump → kept pages, parsed by ``read`` (the xml source, or
    ``read_pages_lineparser`` for the bug-compatible parser).  A dump
    with fewer scan splits than cores (one .xml or .xml.bz2 file) is
    spread once before the UDF stage; a no-op otherwise."""
    return spread_for_compute(filter_pages(read(spark, dump_path), cfg))


def _clean_and_compact(
    spark: SparkSession,
    pages: DataFrame,
    cfg: ExtractorConfig,
    vital_path: str | None,
) -> DataFrame:
    """Kept pages → the vital filter → ``cleaned`` (the clean UDF on
    ``text``) and ``lines`` (the compact UDF on ``cleaned``)."""
    vital = read_vital_titles(spark, vital_path) if vital_path else None
    return (
        apply_vital_filter(pages, vital)
        .withColumn("cleaned", make_clean_udf(cfg)(F.col("text")))
        .withColumn("lines", make_compact_udf(cfg.keep_sections)(F.col("cleaned")))
    )


def extract_documents(
    spark: SparkSession,
    dump_path: str,
    cfg: ExtractorConfig = ExtractorConfig(),
    vital_path: str | None = None,
) -> DataFrame:
    """Dump → cleaned documents:
    ``(page_id, url, title, tags, cleaned, lines)``."""
    prefix = discover_base_prefix(spark, dump_path)
    return (
        _clean_and_compact(spark, dump_pages(spark, dump_path, cfg), cfg, vital_path)
        .withColumn(
            "url",
            F.format_string("%s?curid=%s", F.lit(prefix or ""), F.col("page_id")),
        )
        .select("page_id", "url", "title", "tags", "cleaned", "lines")
    )


def pages_to_text(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: ExtractorConfig = ExtractorConfig(),
    vital_path: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Kept pages → the vital filter → clean and compact → documents in
    the reference's record format, written to ``out_dir``.  The record
    has no URL, so nothing here probes the dump for its prefix."""
    write_documents(
        render_documents(_clean_and_compact(spark, pages, cfg, vital_path)),
        out_dir,
        compress=cfg.compress,
        max_records_per_file=max_records_per_file,
    )


def extract_to_text(
    spark: SparkSession,
    dump_path: str,
    out_dir: str,
    cfg: ExtractorConfig = ExtractorConfig(),
    vital_path: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """The reference CLI, end to end: write cleaned documents in the
    reference's record format to ``out_dir``."""
    pages_to_text(
        spark, dump_pages(spark, dump_path, cfg), out_dir, cfg, vital_path, max_records_per_file
    )

