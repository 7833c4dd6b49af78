"""Record sink (SURVEY.md §2.9).

The reference's intended (per-README) behavior — size-split output
files, optional bz2 — mapped to idiomatic Spark: each document is
assembled into ONE string row (header + newline-joined lines) and
written with ``DataFrameWriter.text``; sizing via
``maxRecordsPerFile`` / repartition; compression via codec option.
Assembling whole records avoids any dependence on row order inside an
output partition (global order is unspecified in the engine contract,
matching the driver's order-insensitive hash).

Reference record format (``WikiExtractor.py:136-143``):
``\\n{title}:{'|||'.join(tags)}\\n`` followed by one compacted line
per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameWriter, functions as F


def render_documents(df: DataFrame) -> DataFrame:
    """``(title, tags array<string>, lines array<string>)`` →
    one ``value`` string column per document in reference format."""
    header = F.format_string(
        "\n%s:%s", F.col("title"), F.concat_ws("|||", F.col("tags"))
    )
    body = F.concat_ws("\n", F.col("lines"))
    return df.select(
        F.when(F.size("lines") > 0, F.concat(header, F.lit("\n"), body))
        .otherwise(header)
        .alias("value")
    )


def _split_files(writer: DataFrameWriter, max_records_per_file: int | None) -> DataFrameWriter:
    """``maxRecordsPerFile`` on ``writer``.  Spark reads a value below 1
    as "no limit", so one that would silently do nothing is an error."""
    if max_records_per_file is None:
        return writer
    if max_records_per_file < 1:
        raise ValueError(f"max_records_per_file must be >= 1, got {max_records_per_file}")
    return writer.option("maxRecordsPerFile", max_records_per_file)


def write_documents(
    df: DataFrame,
    out_dir: str,
    compress: bool = False,
    max_records_per_file: int | None = None,
) -> None:
    """Write rendered records as text; bz2 when ``compress`` (the
    ``--compress`` flag, reference ``WikiExtractor.py:692``)."""
    writer = _split_files(df.write.mode("overwrite"), max_records_per_file)
    if compress:
        writer = writer.option("compression", "bzip2")
    writer.text(out_dir)


def write_documents_structured(
    docs: DataFrame,
    out_dir: str,
    fmt: str = "parquet",
    partition_by: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Training-pipeline sink: the typed document table (id, url,
    title, tags, cleaned text, lines) as parquet or jsonl — the format
    downstream Spark/DuckDB jobs actually want, vs the reference's
    plain-text record stream.  ``partition_by`` enables partition
    pruning for downstream readers (e.g. by lang at corpus scale)."""
    writer = docs.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer = _split_files(writer, max_records_per_file)
    if fmt == "parquet":
        writer.parquet(out_dir)
    elif fmt in ("json", "jsonl"):
        writer.json(out_dir)
    else:
        raise ValueError(f"unsupported sink format: {fmt!r}")


def write_sized_parquet(
    df: DataFrame,
    out_dir: str,
    *,
    target_file_mb: int = 256,
    row_group_mb: int = 32,
    sort_by: str | None = None,
    sample_fraction: float = 0.02,
) -> int:
    """Scale-layout parquet writer: size-targeted files with bounded
    row groups and optional range clustering.  Returns the file count.

    Why this exists: scan parallelism is capped by ROW-GROUP count,
    not file count — parquet can't split below a row group, so one
    600k-row single-row-group file scans on one task no matter what
    ``maxPartitionBytes`` says (see PERF.md).  A 100 TB corpus must be
    written with deliberate layout or every downstream job inherits
    the skew:

    * file sizing: rows are counted once, then per-row on-disk bytes
      are MEASURED by writing a ≤10k-row sample as parquet and sizing
      it — a format-exact estimate (JSON-length heuristics are off
      3-5× on numeric tables because parquet's dictionary/RLE encoding
      is column-shaped, measured in PERF.md);
    * ``parquet.block.size`` bounds row groups to ``row_group_mb`` so
      even a file that lands oversized stays multi-task;
    * ``sort_by`` switches repartition → ``repartitionByRange`` +
      ``sortWithinPartitions``: each file covers a narrow key range,
      so file/row-group min-max stats let downstream range predicates
      prune entire files (poor man's clustering index).

    The persist is load-bearing: count + sample + write would
    otherwise recompute the full upstream plan three times.
    """
    if target_file_mb <= 0 or row_group_mb <= 0:
        raise ValueError("target_file_mb and row_group_mb must be positive")
    import glob
    import os
    import shutil
    import tempfile

    df = df.persist()
    try:
        n_rows = df.count()
        if n_rows == 0:
            n_files = 1
        else:
            sample = df.sample(False, min(1.0, sample_fraction), seed=7).limit(10_000)
            sample = sample.persist()
            k = sample.count()
            if k == 0:
                # release the empty sample BEFORE rebinding, or its
                # cached blocks outlive the function (r3 ADVICE)
                sample.unpersist()
                sample = df.limit(min(n_rows, 10_000)).persist()
                k = sample.count()
            tmp = tempfile.mkdtemp(prefix="sizing_sample_")
            try:
                sample.coalesce(1).write.mode("overwrite").parquet(tmp)
                sample_bytes = sum(
                    os.path.getsize(f) for f in glob.glob(f"{tmp}/*.parquet")
                )
            finally:
                sample.unpersist()
                shutil.rmtree(tmp, ignore_errors=True)
            disk_bytes = n_rows * (sample_bytes / max(k, 1))
            n_files = max(1, int(disk_bytes // (target_file_mb * 1024 * 1024)) + 1)
        if sort_by is not None:
            out = df.repartitionByRange(n_files, F.col(sort_by)).sortWithinPartitions(sort_by)
        else:
            out = df.repartition(n_files)
        (
            out.write.mode("overwrite")
            .option("parquet.block.size", row_group_mb * 1024 * 1024)
            .parquet(out_dir)
        )
        return n_files
    finally:
        df.unpersist()


def write_training_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    seed: str = "",
    id_col: str = "doc_id",
    tiebreak_cols: tuple[str, ...] = (),
) -> int:
    """Deterministic global shuffle + sharded export — the last step
    of a training-data pipeline: examples must reach the trainer in a
    reproducible pseudo-random order, decorrelated from crawl/source
    order (long runs of one domain bias gradients), split into fixed
    shards for data-parallel loaders.

    ``rand()``-based shuffles are layout-dependent and unrepeatable;
    here both shard MEMBERSHIP and within-shard ORDER are pure
    functions of ``(id, seed)``: order key = ``xxhash64(id, seed)``,
    shard = that key mod ``n_shards`` (statistically equal-sized), so
    any rerun on any cluster layout reproduces byte-identical shards.
    Different seeds draw independent orders — one per epoch.

    Layout: ONE exchange keyed on the shard id, a per-shard sort, and
    a hive-partitioned write (``shard_id=K/``), so loader-side workers
    select their shards by explicit directory — no file-listing
    guesswork, same pattern as the IVF index partitions.  Parquet
    preserves row order within files, and each shard directory is
    written by exactly one task.

    The byte-identical-rerun guarantee requires a UNIQUE sort key:
    with a non-unique ``id_col`` (chunked corpora — one doc_id per
    chunk) pass ``tiebreak_cols`` completing uniqueness (e.g.
    ``("chunk_no",)``), or rows sharing an id tie on the whole sort
    key and Spark's unstable sort interleaves them differently per
    run (r13 review).

    Returns ``n_shards``.
    """
    _shard_writer(df, n_shards, seed, id_col, tiebreak_cols).parquet(out_dir)
    return n_shards


def _shard_writer(
    df: DataFrame, n_shards: int, seed: str, id_col: str,
    tiebreak_cols: tuple[str, ...],
):
    """The one shard-order step behind both shard formats: order key
    ``xxhash64(id, seed)``, shard ``pmod(key, n_shards)``, ONE exchange
    on the shard id, a per-shard sort, and a ``shard_id=K/``-partitioned
    overwrite writer for the caller to finish with its format."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    ord_key = F.xxhash64(F.col(id_col).cast("string"), F.lit(str(seed)))
    return (
        df.withColumn("_ord", ord_key)
        .withColumn("shard_id", F.pmod(F.col("_ord"), F.lit(n_shards)).cast("int"))
        .repartition(n_shards, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "_ord", id_col, *tiebreak_cols)
        .drop("_ord")
        .write.mode("overwrite")
        .partitionBy("shard_id")
    )


def _shard_dirs(spark, out_dir: str, shard_ids: list[int] | None) -> list[str]:
    """``shard_id=K`` directories under ``out_dir`` — all, or the
    requested ids — from an explicit FS listing; raises when nothing
    matches, so a loader never trains on a valid 0-row frame."""
    from wikiextractor_spark.fsutil import int_partition_dirs

    dirs = int_partition_dirs(spark, f"{out_dir}/shard_id=*", "shard_id")
    if shard_ids is not None:
        want = set(shard_ids)
        dirs = [(i, p) for i, p in dirs if i in want]
    if not dirs:
        raise ValueError(
            f"no matching shard directories under {out_dir!r} "
            f"(requested {sorted(set(shard_ids)) if shard_ids is not None else 'all'})"
        )
    return [p for _i, p in dirs]


def read_training_shards(
    spark, out_dir: str, shard_ids: list[int] | None = None,
):
    """Read back shards written by :func:`write_training_shards` —
    all of them, or an explicit subset by shard id (the data-parallel
    loader case: worker w reads shards w, w+W, w+2W...).  Directory
    selection is an explicit FS listing (``fsutil.int_partition_dirs``)
    so the read bound never depends on partition-pruning heuristics;
    unknown ids are simply absent.  Row order within a shard is the
    written order (parquet preserves it; one file per shard
    directory)."""
    dirs = _shard_dirs(spark, out_dir, shard_ids)
    return spark.read.option("basePath", out_dir).parquet(*dirs)


def write_jsonl_shards(
    df: DataFrame,
    out_dir: str,
    n_shards: int = 16,
    seed: str = "",
    id_col: str = "doc_id",
    compression: str | None = None,
    tiebreak_cols: tuple[str, ...] = (),
) -> int:
    """:func:`write_training_shards`' contract in the INTERCHANGE
    format — one JSON object per line, hive-partitioned
    ``shard_id=K/`` directories — for handing a prepared corpus to
    non-Spark consumers (tokenizer trainers, inspection tooling,
    loaders that read JSONL directly).  Shard membership and
    within-shard order are the SAME pure functions of ``(id, seed)``
    (``xxhash64`` order key, ``pmod`` shard), so a JSONL export and a
    parquet export of one corpus shard IDENTICALLY — swap formats
    without re-deriving the order.  Spark's json writer preserves row
    order within a file and each shard directory is written by
    exactly one task.  As with the parquet sink, order parity
    requires a UNIQUE sort key — pass ``tiebreak_cols`` when
    ``id_col`` repeats (chunked corpora).

    ``compression='gzip'`` trades splittability for size — right for
    export/hand-off, wrong for re-ingesting at scale (one task per
    file on read; the JSONL SOURCE module's splittable-scan argument
    in reverse).  Complex columns (arrays, structs) serialize as
    JSON values — ids/packs export losslessly."""
    w = _shard_writer(df, n_shards, seed, id_col, tiebreak_cols)
    if compression is not None:
        w = w.option("compression", compression)
    w.json(out_dir)
    return n_shards


def read_jsonl_shards(
    spark, out_dir: str, schema,
    shard_ids: list[int] | None = None,
):
    """Read back shards written by :func:`write_jsonl_shards` — the
    explicit-listing discipline of :func:`read_training_shards`
    exactly (one multi-path scan with ``basePath`` so ``shard_id``
    rides partition discovery, NOT one scan per directory chained
    through unions — at n_shards=1024 that was 1024 FS listings and
    a 1023-deep union plan; and a listing that matches NOTHING
    raises instead of returning a valid 0-row frame a loader would
    silently train on), with the JSONL source module's
    explicit-schema rule (``schema`` is REQUIRED: inference would be
    a second full pass, and a corrupt line must surface as NULL
    fields under the declared schema, not silently reshape the
    frame)."""
    return (
        spark.read.schema(schema)
        .option("basePath", out_dir)
        # a LIST, not varargs: DataFrameReader.json's second
        # positional parameter is the schema
        .json(_shard_dirs(spark, out_dir, shard_ids))
    )


def shard_manifest(shards: DataFrame) -> DataFrame:
    """→ ``(shard_id, n_rows, content_xor, content_sum)`` from a
    shards frame (a :func:`read_training_shards` read-back or the
    pre-write frame with ``shard_id`` attached): per shard the row
    count and TWO order-insensitive content checksums over
    ``xxhash64(to_json(struct(*non-shard columns)))`` — the bit-XOR
    and a 1e6-grain modular sum (see the inline comment for why
    neither alone suffices).  One map-side-combined aggregation.

    The row hash renders through ``to_json``, which is
    session-config-sensitive for TIMESTAMP columns (the session
    time zone): verify from a session configured like the exporter,
    or keep export schemas timestamp-free (the engine's shard
    exports are ids/text/arrays — immune)."""
    cols = [c for c in shards.columns if c != "shard_id"]
    if not cols:
        raise ValueError("shard_manifest: no content columns")
    row_hash = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))
    # XOR (overflow-free, order-insensitive; even-multiplicity rows
    # cancel) PLUS a modular sum (catches exactly the cancellation
    # case; pmod bound 1e6+3 keeps SUM inside a long past 9e12
    # rows/shard) — a plain SUM of full-range hashes overflows under
    # ANSI arithmetic
    return shards.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(row_hash).alias("content_xor"),
        F.sum(F.pmod(row_hash, F.lit(1_000_003))).alias("content_sum"),
    )


def write_shard_manifest(shards: DataFrame, out_dir: str) -> None:
    """Compute and persist the integrity manifest beside a parquet
    shard layout (``<out_dir>/_manifest`` — the underscore prefix
    keeps every Spark reader from picking it up as data).  Write it
    immediately after :func:`write_training_shards` from a read-back
    of the SAME directory, so the manifest describes the bytes on
    disk, not the pre-write plan."""
    from wikiextractor_spark.functions.modelio import write_one_file

    write_one_file(shard_manifest(shards), f"{out_dir}/_manifest")


def verify_training_shards(
    spark, out_dir: str, *, fmt: str = "parquet", schema=None,
) -> int:
    """Recompute every shard's count and content checksum and compare
    against the stored manifest — the loader-side integrity gate: a
    truncated write, a lost shard directory, or bit rot must FAIL
    LOUDLY before a trainer consumes the corpus.  Raises ValueError
    naming every mismatched / missing / unexpected shard; returns
    the number of verified shards on success.  Cost: one scan of the
    layout + the driver-sized manifest read.

    ``fmt='jsonl'`` verifies a :func:`write_jsonl_shards` layout —
    the format built for EXTERNAL hand-off, where silent truncation
    is least recoverable (r13 VERDICT).  It requires ``schema``: the
    export schema in the EXPORTED column order (the
    :func:`read_jsonl_shards` explicit-schema rule, and the row hash
    renders ``to_json(struct(*))`` in frame column order — write the
    manifest from a :func:`read_jsonl_shards` read-back under this
    same schema and both sides render identically).  JSON round-trip
    caveat: string/integral/boolean columns and arrays/structs of
    them re-render exactly; fractional DOUBLE values may not — keep
    JSONL export schemas float-free (the engine's shard exports are
    ids/text/arrays — immune) or verify the parquet layout instead.

    Advice-vs-corruption mapping: only a genuinely ABSENT
    ``_manifest`` path gets the "write one" bootstrap message
    (existence probed via the Hadoop FS, the fsutil discipline); a
    manifest directory that EXISTS but fails to read — emptied,
    corrupt footer, transient IO — propagates its AnalysisException
    unchanged, because advising a regenerate there would launder a
    real loss signal into a bootstrap hint (r13 ADVICE)."""
    from wikiextractor_spark.fsutil import hadoop_fs

    if fmt not in ("parquet", "jsonl"):
        raise ValueError(
            f"verify_training_shards: fmt must be 'parquet' or "
            f"'jsonl', got {fmt!r}"
        )
    if fmt == "jsonl" and schema is None:
        raise ValueError(
            "verify_training_shards: fmt='jsonl' needs the export "
            "schema (read_jsonl_shards' explicit-schema rule) — pass "
            "schema= in the exported column order"
        )
    if fmt == "parquet" and schema is not None:
        raise ValueError(
            "verify_training_shards: schema applies only to "
            "fmt='jsonl' — the parquet layout carries its own; a "
            "schema here would be silently ignored"
        )
    mpath = f"{out_dir}/_manifest"
    jpath, fs = hadoop_fs(spark, mpath)
    if not fs.exists(jpath):
        raise ValueError(
            f"verify_training_shards: no manifest under {out_dir!r} "
            "— write one with write_shard_manifest at export time"
        )
    # the path exists: any read failure past this point is a REAL
    # signal (emptied directory, corrupt footer, transient IO) and
    # propagates as-is
    stored = {
        r["shard_id"]: (r["n_rows"], r["content_xor"],
                        r["content_sum"])
        for r in spark.read.parquet(mpath).collect()
    }
    layout = (
        read_training_shards(spark, out_dir)
        if fmt == "parquet"
        else read_jsonl_shards(spark, out_dir, schema)
    )
    actual = {
        r["shard_id"]: (r["n_rows"], r["content_xor"], r["content_sum"])
        for r in shard_manifest(layout).collect()
    }
    problems = []
    for sid in sorted(set(stored) | set(actual)):
        if sid not in actual:
            problems.append(f"shard {sid}: MISSING from the layout")
        elif sid not in stored:
            problems.append(f"shard {sid}: not in the manifest")
        elif stored[sid] != actual[sid]:
            problems.append(
                f"shard {sid}: manifest {stored[sid]} != layout "
                f"{actual[sid]}"
            )
    if problems:
        raise ValueError(
            "verify_training_shards: integrity check FAILED — "
            + "; ".join(problems)
        )
    return len(actual)
