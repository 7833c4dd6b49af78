"""Streaming deduplication (§2.10 extension surface).

Two training-pipeline ingestion patterns the batch dedup operators
(``operators/dedup.py``) cannot express, because arrival is unbounded:

* **Exactly-once event ingestion** — upstream delivery is at-least-
  once (retries, replayed files), so the same ``event_id`` can arrive
  more than once.  ``dropDuplicatesWithinWatermark`` keeps the first
  occurrence and holds per-key state ONLY until the watermark passes
  the key's event time + delay, so state is bounded by the duplicate
  window, not by the stream's lifetime — the property that makes this
  runnable forever on a real cluster.
* **Content-hash document dedup** — the streaming twin of
  ``dedup.exact_duplicate_groups``: hash the text once (narrow), drop
  repeats of the hash.  Documents carry no event time, so the
  unbottled variant holds one state row per distinct hash for the
  stream's lifetime; the docstring (and the ``ingest_ts`` variant's
  existence) makes that trade explicit rather than implicit.

Both reuse the batch schemas/normalizations from ``stream.py`` so a
batch backfill and the live stream produce identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from wikiextractor_spark.streaming.stream import (
    DOCUMENTS_SCHEMA,
    event_time_expr,
    events_schema_for,
    events_ts_type,
)


def deduped_event_stream(
    spark: SparkSession, input_dir: str, watermark: str = "2 hours",
    path_glob: str | None = None,
) -> DataFrame:
    """Events stream with at-least-once delivery collapsed to
    exactly-once on ``event_id``.

    State bound: one row per event_id seen within the trailing
    ``watermark`` of event time; the state store evicts keys as the
    watermark advances, so memory is O(duplicate window), independent
    of total stream length.  Duplicates that arrive more than
    ``watermark`` apart are NOT collapsed — that is the contract knob,
    sized to the upstream redelivery horizon.
    """
    ts_type = events_ts_type(spark, input_dir, path_glob)
    reader = spark.readStream.schema(events_schema_for(ts_type))
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return (
        reader.parquet(input_dir)
        # same ts normalization as the batch reader (sources/tables.py),
        # adaptive to the physical parquet type via a footer probe
        .withColumn("ts", event_time_expr(ts_type))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def dedup_events_to_parquet(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    watermark: str = "2 hours", path_glob: str | None = None,
):
    """Drain :func:`deduped_event_stream` to an append-mode parquet
    file sink (executors write; no driver-side state), availableNow
    for batch-parity runs — drop the trigger for a live tail."""
    stream = deduped_event_stream(spark, input_dir, watermark, path_glob)
    return (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def deduped_document_stream(
    spark: SparkSession, input_dir: str, path_glob: str | None = None,
) -> DataFrame:
    """Documents stream with exact content dedup: first arrival of each
    ``sha2(text)`` wins, repeats are dropped.

    The hash is computed per row (narrow, JVM-side); the only stateful
    op is the drop itself.  Documents have no event-time column, so
    this uses plain ``dropDuplicates`` — state grows with the number
    of DISTINCT hashes and never expires.  That is the correct
    semantics for "never re-emit a document we have ever emitted", and
    the honest cost of it; when the upstream attaches an ingest
    timestamp, put a watermark on it and switch to
    ``dropDuplicatesWithinWatermark`` (exactly the
    :func:`deduped_event_stream` topology) to bound state by the
    redelivery horizon instead.
    """
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return (
        reader.parquet(input_dir)
        .withColumn("content_hash", F.sha2(F.col("text"), 256))
        .dropDuplicates(["content_hash"])
    )


def near_deduped_document_stream(
    spark: SparkSession, input_dir: str, path_glob: str | None = None,
) -> DataFrame:
    """Documents stream with SIGNATURE-GRAIN near dedup: first arrival
    of each 64-bit SimHash signature wins.

    The signature is a narrow expression (``dedup._simhash_sql``), so
    it streams like any projection; the only stateful op is the drop.
    Grain contract, stated honestly: signature EQUALITY collapses
    exact copies and most tiny edits (the sign-sum is robust to a few
    changed words), but two docs at small positive Hamming distance
    are NOT collapsed — that needs the cross-bucket candidate join,
    which is :func:`near_dedup_documents_incremental`'s micro-batch
    job.  Same unbounded-state trade as
    :func:`deduped_document_stream`, same ``ingest_ts`` escape hatch.
    """
    from wikiextractor_spark.operators.dedup import _simhash_sql

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return (
        reader.parquet(input_dir)
        .withColumn("simhash", F.expr(_simhash_sql("text", 64)))
        .dropDuplicates(["simhash"])
    )


# Signature-store bucketing: each block row lands in partition
# bucket = block_idx * B + (block_val mod B).  A micro-batch touches
# at most n_blocks * B buckets (and usually far fewer), so the store
# read is bounded by BUCKET OCCUPANCY — matching partitions only —
# not by how long the stream has been alive.
STORE_BUCKETS_PER_BLOCK = 16


def _store_bucket_col(n_buckets: int = STORE_BUCKETS_PER_BLOCK):
    return (
        F.col("block_idx") * n_buckets
        + F.pmod(F.col("block_val"), F.lit(n_buckets))
    ).alias("bucket")


def read_store_buckets(
    spark: SparkSession, state_dir: str, buckets: list[int] | None = None,
    exclude_gen: int | str | None = None,
) -> DataFrame | None:
    """Bucket-bounded read of the signature store: list the store's
    ``bucket=`` partition directories (driver-side Hadoop-FS glob, the
    same listing any FileIndex does) and hand the reader ONLY the
    directories whose bucket is in ``buckets`` — the scan cost bound
    does not depend on the optimizer pruning anything.  ``None``
    buckets = the whole store (maintenance path).

    ``exclude_gen`` skips one ``batch_id=<gen>`` generation entirely:
    a REPLAYED micro-batch (foreachBatch is at-least-once) must not
    join against its own possibly-partial partition from the failed
    attempt — it would see its own signatures at Hamming 0 and drop
    every one of its docs as "duplicates" — and must not scan files
    its own overwrite is about to delete.

    Returns ``None`` when the store directory does not exist yet
    (first batch) or no requested bucket has a partition.  The
    existence check is explicit, so a *transient* listing/IO failure
    raises instead of masquerading as an empty store — callers let
    that fail the micro-batch and the checkpoint retry it."""
    from wikiextractor_spark.fsutil import hadoop_fs, int_partition_dirs

    jpath, fs = hadoop_fs(spark, state_dir)
    if not fs.exists(jpath):
        return None
    want = None if buckets is None else set(buckets)
    skip_gen = None if exclude_gen is None else f"batch_id={exclude_gen}"
    paths = []
    for bucket, path in int_partition_dirs(
        spark, f"{state_dir}/*/bucket=*", "bucket"
    ):
        gen = path.rstrip("/").rsplit("/", 2)[-2]
        if skip_gen is not None and gen == skip_gen:
            continue
        if want is not None and bucket not in want:
            continue
        paths.append(path)
    if not paths:
        return None
    # basePath keeps batch_id/bucket as derived partition columns
    return spark.read.option("basePath", state_dir).parquet(*paths)


def dedup_batch_against_store(
    spark: SparkSession, batch_df: DataFrame, state_dir: str, batch_id: int,
    max_distance: int = 3, text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """One micro-batch of incremental Hamming ≤ ``max_distance``
    near-dedup: in-batch chain dedup, pigeonhole join against the
    bucketed signature store, and the idempotent store write for the
    surviving signatures (under ``batch_id=<id>``, so an at-least-once
    replay overwrites its own partition).  Returns the surviving batch
    rows — the reusable core of
    :func:`near_dedup_documents_incremental`, shared with the
    streaming corpus-preparation flow."""
    from wikiextractor_spark.operators.dedup import (
        _drop_losers,
        _flagged_left_ids,
        _hamming_pairs,
        simhash64,
        simhash_block_rows,
        simhash_blocks,
    )

    n_blocks = max_distance + 1
    # in-batch chain dedup at the same Hamming grain; the anti-join
    # needs only the loser ids, so the pairs skip their distinct
    in_batch = _hamming_pairs(
        simhash_block_rows(batch_df, text_col, id_col, max_distance),
        None, id_col, max_distance,
    )
    survivors = _drop_losers(batch_df, in_batch, id_col, "chain")
    sigs = simhash64(survivors, text_col, id_col).localCheckpoint(eager=True)
    b_blocks = (
        simhash_blocks(sigs, id_col=id_col, n_blocks=n_blocks, sig_bits=64)
        .withColumn("bucket", _store_bucket_col())
        .localCheckpoint(eager=True)
    )
    # the batch's bucket footprint: ≤ n_blocks * B ints, driver-side
    batch_buckets = [
        r["bucket"] for r in b_blocks.select("bucket").distinct().collect()
    ]
    # cross-batch: pigeonhole join vs matching store partitions
    # (None = store absent or no bucket overlap; transient listing
    # failures raise and fail the batch → checkpoint retries).
    # exclude_gen: an at-least-once REPLAY must not join against its
    # own partial partition — it would self-dedup to nothing
    s_blocks = read_store_buckets(
        spark, state_dir, batch_buckets, exclude_gen=batch_id
    )
    if s_blocks is not None:
        dup_ids = _flagged_left_ids(
            _hamming_pairs(b_blocks, s_blocks, id_col, max_distance), id_col
        )
        survivors = survivors.join(dup_ids, id_col, "left_anti")
        b_blocks = b_blocks.join(dup_ids, id_col, "left_anti")
    # idempotent per-batch store write: batch_id is carried by the
    # hive-style PATH (partition discovery re-derives the column on
    # read); writing it as a physical column too would collide
    b_blocks.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{state_dir}/batch_id={batch_id}"
    )
    return survivors


def near_dedup_documents_incremental(
    spark: SparkSession, input_dir: str, out_dir: str, checkpoint_dir: str,
    state_dir: str, max_distance: int = 3, path_glob: str | None = None,
    trigger_available_now: bool = True,
):
    """TRUE Hamming ≤ ``max_distance`` near-dedup over an unbounded
    document stream, as micro-batch increments (``foreachBatch``).

    Why not one stateful operator: a doc's 4 pigeonhole blocks land in
    4 DIFFERENT state-store keys, and "is this doc a near-dup" is a
    disjunction over those buckets — no single ``applyInPandasWithState``
    group can decide emit-vs-drop alone.  The batch topology already
    solves this with an equi-join, so the streaming lift runs that
    join per micro-batch against an accumulating signature store:

    1. signatures for the batch (narrow);
    2. in-batch near-dups dropped with the batch operator's chain rule
       (any row with a verified near-dup of smaller id);
    3. survivors pigeonhole-joined against the STORED block rows —
       a batch-vs-store join on (block_idx, block_val), exact
       ``bit_count`` re-check, matched docs dropped;
    4. remaining docs appended to ``out_dir``; their signatures'
       BLOCK rows appended to the store — both written under
       ``batch_id=<epoch>`` partitions with per-partition overwrite,
       so a replayed micro-batch (foreachBatch is at-least-once)
       rewrites its own partition instead of duplicating it.

    Store layout and the long-lived-stream bound: the store holds
    block-exploded rows ``(doc_id, simhash, block_idx, block_val)`` —
    ``n_blocks`` × 16 bytes per surviving doc, no text — hive-
    partitioned by ``bucket = block_idx * B + block_val mod B``
    (B = :data:`STORE_BUCKETS_PER_BLOCK`).  Each micro-batch collects
    its own distinct bucket set (a driver-side list bounded by
    ``n_blocks * B`` ints, ≤ 64 at the defaults, NOT by data size)
    and reads only matching store partitions via
    :func:`read_store_buckets`, so per-batch read cost is bucket
    occupancy, not store lifetime.  A store-read failure other than
    store-does-not-exist-yet FAILS the batch — the checkpoint retries
    it — rather than silently skipping cross-batch dedup.  Returns the
    StreamingQuery.
    """
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        survivors = dedup_batch_against_store(
            spark, batch_df.localCheckpoint(eager=True), state_dir, batch_id,
            max_distance=max_distance,
        )
        survivors.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    writer = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_signature_store(spark: SparkSession, state_dir: str) -> int:
    """Rewrite the store's accumulated ``batch_id=`` generations into
    ONE consolidated generation — the maintenance pass a long-lived
    stream needs, since every micro-batch adds a small parquet
    partition and file count otherwise grows with stream lifetime.

    Layout is preserved (hive ``batch_id=<gen>/bucket=<b>`` with one
    file per bucket, via a shuffle on bucket), so
    :func:`read_store_buckets` pruning is unchanged.  Write-then-
    delete ordering makes a crash mid-compaction leave duplicated
    signature rows, never missing ones — duplicate store rows are
    harmless to the dedup join (candidate ids are ``distinct``), so
    the failure mode is extra work, not emitted duplicates.  Run only
    while the stream is stopped: a concurrent ``foreachBatch`` writer
    creates new generations this pass would not see.

    The NEWEST numeric generation is always left alone: if the stream
    crashed after that batch's store write but before its checkpoint
    commit, the restart will REPLAY that batch, and the replay's
    self-exclusion (``read_store_buckets(exclude_gen=N)``) only works
    while those rows still live under ``batch_id=N`` — folding them
    into the compacted generation would make the replayed batch match
    its own signatures at Hamming 0 and silently drop every one of
    its documents.  Returns the number of generations removed."""
    from wikiextractor_spark.fsutil import hadoop_fs

    jvm = spark._jvm
    root, fs = hadoop_fs(spark, state_dir)
    if not fs.exists(root):
        return 0
    gens = [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("batch_id=")
    ]
    gen_vals = [p.getName().split("=", 1)[1] for p in gens]
    numeric = sorted(
        (int(v), p) for v, p in zip(gen_vals, gens) if v.isdigit()
    )
    # keep the newest numeric gen out of the compaction (see above)
    keep = {numeric[-1][1].toString()} if numeric else set()
    compactable = [p for p in gens if p.toString() not in keep]
    if len(compactable) <= 1:
        return 0
    # the compacted generation gets a NON-NUMERIC name ("c<n>"): the
    # stream's own batch ids are a monotone integer sequence from its
    # checkpoint, so a numeric compaction gen would eventually collide
    # with a future micro-batch's overwrite and destroy the store
    gen_ids = [
        int(v.lstrip("c")) for v in gen_vals if v.lstrip("c").isdigit()
    ]
    new_gen = f"c{max(gen_ids, default=0) + 1}"
    paths = []
    for p in compactable:
        for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{p}/bucket=*")) or []:
            paths.append(st.getPath().toString())
    if paths:
        rows = (
            spark.read.option("basePath", state_dir)
            .parquet(*paths)
            .select("doc_id", "simhash", "block_idx", "block_val", "bucket")
        )
        (
            rows.repartition("bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{state_dir}/batch_id={new_gen}")
        )
    # delete even when every compactable gen was EMPTY (fully-filtered
    # micro-batches write empty batch_id dirs): without this the store
    # root's directory count grows with stream lifetime and every
    # bucket glob slows down
    for p in compactable:
        fs.delete(p, True)
    return len(compactable)
