"""The benchmark's workloads: seeded inputs, the timed job, its output
check and the traced per-layer run.

Every job goes through the package's public entry points.  The traced
run re-composes each job from the public functions of its layers and
forces every prefix with a ``noop`` write, so a layer's time is the
difference between two prefixes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench import checks
from perfbench.inputs import DumpSpec, generate_docs, generate_dump
from perfbench.probes import StageCounters, StageTotals, Tracer, task_skew

PER_LAYER = (
    "session.start_s", "session.warm_s", "session.first_job_s",
    "sources.prefix_probe_s", "sources.scan_s", "sources.pages_scanned",
    "sources.scan_tasks", "sources.scan_task_skew", "sources.filter_keep_ratio",
    "skew.spread_partitions", "skew.shuffle_write_mb",
    "textops.clean_mb_per_s", "textops.compact_mb_per_s",
    "udfs.clean_s", "udfs.compact_s",
    "sink.write_s", "sink.bytes_out_mb", "sink.files_out", "sink.compress_ratio",
    "sink.shards_write_s",
    "functions.gate_s", "functions.gate_keep_ratio",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.pair_precision",
    "dedup.s", "dedup.shuffle_write_mb",
    "chunking.s", "chunking.chunks_out",
    "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s", "spark.jvm_gc_s",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.core_busy_ratio",
    "spark.scan_core_busy_ratio",
    "process.peak_rss_mb", "trace.job_s", "trace.overhead_s",
)

TEXTOPS_SAMPLE_BYTES = 2_000_000
PREFIX_PASSES = 2


def noop(df) -> None:
    """Force a frame completely without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def output_files(out_dir: str) -> list[str]:
    return [
        os.path.join(root, name)
        for root, _dirs, names in os.walk(out_dir)
        for name in names
        if not name.startswith(("_", "."))
    ]


class Prefix:
    """Runs traced calls; keeps each name's fastest wall time and that
    call's stage counters (the prefix chain runs ``PREFIX_PASSES`` times,
    so JIT warm-up during the first pass does not skew the differences)."""

    def __init__(self, spark, tracer: Tracer):
        self.counters = StageCounters(spark)
        self.tracer = tracer
        self.cores = spark.sparkContext.defaultParallelism
        self.wall: dict[str, float] = {}
        self.totals: dict[str, StageTotals] = {}

    def run(self, name: str, fn):
        mark = self.counters.mark()
        with self.tracer.span(name) as span:
            result = fn()
        totals = self.counters.since(mark)
        span.attrs.update(totals.as_dict())
        if span.seconds < self.wall.get(name, float("inf")):
            self.wall[name] = span.seconds
            self.totals[name] = totals
        return result

    def busy(self, name: str) -> float:
        return self.totals[name].executor_run_s / (self.wall[name] * self.cores)

    def diff(self, later: str, earlier: str) -> float:
        return self.wall[later] - self.wall[earlier]

    def shuffle_write_mb(self, later: str, earlier: str) -> float:
        return self.totals[later].shuffle_write_mb - self.totals[earlier].shuffle_write_mb

    def spread_partitions(self, spread: str, before: str) -> int:
        """Tasks of the stage after the spread's shuffle, or 0 when the
        spread prefix ran no more stages than the prefix before it."""
        t = self.totals[spread]
        return t.last_stage_tasks if t.stages > self.totals[before].stages else 0


def spark_metrics(p: Prefix, full: str, scan: str) -> dict[str, float]:
    t = p.totals[full]
    return {
        "spark.tasks": t.tasks,
        "spark.executor_run_s": t.executor_run_s,
        "spark.executor_cpu_s": t.executor_cpu_s,
        "spark.jvm_gc_s": t.jvm_gc_s,
        "spark.shuffle_write_mb": t.shuffle_write_mb,
        "spark.spill_mb": t.spill_mb,
        "spark.core_busy_ratio": p.busy(full),
        "spark.scan_core_busy_ratio": p.busy(scan),
    }


class Workload:
    """One named workload.  ``generate`` writes the inputs (untimed),
    ``prepare`` computes what the checks compare against (untimed),
    ``job`` is the timed unit, ``check`` validates one job's output."""

    name = ""
    input_mb = 0.0
    warm_jobs = 2  # untimed, checked jobs before the timed loop

    def generate(self, in_dir: str, seed: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def job(self, spark, out_dir: str) -> None:
        raise NotImplementedError

    def check(self, out_dir: str) -> str | None:
        raise NotImplementedError

    def trace(self, spark, tracer: Tracer, out_dir: str) -> dict[str, float]:
        raise NotImplementedError


# --------------------------------------------------------------------------
# Dump → text
# --------------------------------------------------------------------------

class ExtractWorkload(Workload):
    def __init__(self, name: str, spec: DumpSpec, compress: bool):
        self.name = name
        self.spec = spec
        self.compress = compress

    def _cfg(self):
        from wikiextractor_spark.config import ExtractorConfig

        return ExtractorConfig(compress=self.compress)

    def generate(self, in_dir: str, seed: int) -> None:
        self.dump_dir = os.path.join(in_dir, "dump")
        self.manifest = generate_dump(self.dump_dir, seed, self.spec)
        self.input_mb = self.manifest.xml_bytes / 1e6

    def prepare(self) -> None:
        self.expected = checks.reference_digest(self.manifest.files)

    def job(self, spark, out_dir: str) -> None:
        from wikiextractor_spark.pipeline import extract_to_text

        extract_to_text(spark, self.dump_dir, out_dir, self._cfg())

    def check(self, out_dir: str) -> str | None:
        return checks.check_extract(out_dir, self.expected, self.manifest.articles)

    def trace(self, spark, tracer: Tracer, out_dir: str) -> dict[str, float]:
        from pyspark.sql import functions as F

        from wikiextractor_spark import textops
        from wikiextractor_spark.operators.skew import packed_file_splits, spread_for_compute
        from wikiextractor_spark.sink import render_documents, write_documents
        from wikiextractor_spark.sources.dump import discover_base_prefix, filter_pages, read_pages
        from wikiextractor_spark.sources.vital import apply_vital_filter
        from wikiextractor_spark.udfs import make_clean_udf, make_compact_udf

        cfg, path = self._cfg(), self.dump_dir
        p = Prefix(spark, tracer)
        cores = p.cores
        for i in range(PREFIX_PASSES):
            with tracer.span("prefixes", pass_no=i):
                prefix = p.run("sources.prefix_probe", lambda: discover_base_prefix(spark, path))
                pages = read_pages(spark, path)
                p.run("scan", lambda: noop(pages))
                kept = filter_pages(pages, cfg)
                p.run("filter", lambda: noop(kept))
                splits = packed_file_splits(kept)
                spread = kept if splits is None else spread_for_compute(kept, cores, assume_splits=splits)
                p.run("spread", lambda: noop(spread))
                cleaned = apply_vital_filter(spread, None).withColumn(
                    "cleaned", make_clean_udf(cfg)(F.col("text"))
                )
                p.run("clean", lambda: noop(cleaned))
                docs = cleaned.withColumn(
                    "lines", make_compact_udf(cfg.keep_sections)(F.col("cleaned"))
                ).withColumn(
                    "url", F.format_string("%s?curid=%s", F.lit(prefix or ""), F.col("page_id"))
                ).select("page_id", "url", "title", "tags", "cleaned", "lines")
                p.run("compact", lambda: noop(docs))
                p.run("full", lambda: self.job(spark, out_dir))
                # the sink alone, fed from a materialised copy of its input
                cached = docs.persist()
                with tracer.span("materialise"):
                    noop(cached)
                p.run("sink", lambda: write_documents(
                    render_documents(cached), out_dir + "-sink", compress=cfg.compress
                ))
                cached.unpersist()
        with tracer.span("counts"):
            n_kept = kept.count()
        failure = self.check(out_dir)
        files = output_files(out_dir)
        on_disk = sum(os.path.getsize(f) for f in files)
        raw = 0
        for f in files:
            with checks.open_text(f) as fh:
                raw += len(fh.read().encode("utf-8"))

        # textops, called directly in this process on a fixed page sample
        sample = checks.article_texts(self.manifest.files[0], TEXTOPS_SAMPLE_BYTES)
        sample_mb = sum(len(t.encode("utf-8")) for t in sample) / 1e6
        with tracer.span("textops.clean_wikitext") as s_clean:
            cleaned_texts = [textops.clean_wikitext(t) for t in sample]
        cleaned_mb = sum(len(t.encode("utf-8")) for t in cleaned_texts) / 1e6
        with tracer.span("textops.compact_lines") as s_compact:
            for t in cleaned_texts:
                textops.compact_lines(t)

        scan = p.totals["scan"]
        return {
            "sources.prefix_probe_s": p.wall["sources.prefix_probe"],
            "sources.scan_s": p.wall["scan"],
            "sources.pages_scanned": scan.input_records,
            "sources.scan_tasks": scan.tasks,
            "sources.scan_task_skew": task_skew(scan.scan_task_s),
            "sources.filter_keep_ratio": n_kept / max(1, scan.input_records),
            "skew.spread_partitions": p.spread_partitions("spread", "filter"),
            "skew.shuffle_write_mb": p.shuffle_write_mb("spread", "filter"),
            "textops.clean_mb_per_s": sample_mb / s_clean.seconds,
            "textops.compact_mb_per_s": cleaned_mb / s_compact.seconds,
            "udfs.clean_s": p.diff("clean", "spread"),
            "udfs.compact_s": p.diff("compact", "clean"),
            "sink.write_s": p.wall["sink"],
            "sink.bytes_out_mb": on_disk / 1e6,
            "sink.files_out": len(files),
            "sink.compress_ratio": raw / max(1, on_disk),
            **spark_metrics(p, "full", "scan"),
            "_full_s": p.wall["full"],
            "_failure": failure,
        }


# --------------------------------------------------------------------------
# Documents → near-dedup → chunks → training shards
# --------------------------------------------------------------------------

class CorpusWorkload(Workload):
    # JIT and codegen keep warming for about five corpus jobs (after the
    # set-up: 14.5, 6, 5, 4.7, then ~4.3 s); timing from the third job
    # measured that slope and spread run medians by 0.3 across seeds
    warm_jobs = 3
    min_quality = 0.6
    chunk_tokens = 64
    overlap = 16
    n_shards = 8

    def __init__(self, name: str, n_docs: int):
        self.name = name
        self.n_docs = n_docs

    def generate(self, in_dir: str, seed: int) -> None:
        self.docs_dir = os.path.join(in_dir, "documents")
        self.truth = generate_docs(
            os.path.join(self.docs_dir, "part-0.parquet"), seed, self.n_docs
        )
        self.input_mb = self.truth.text_bytes / 1e6

    def _prepare(self, docs, **stages):
        from wikiextractor_spark.operators.corpus import prepare_corpus

        return prepare_corpus(
            docs, target_lang="en", min_quality=self.min_quality, **stages
        )

    def _chunks(self, docs):
        return self._prepare(
            docs, dedup="near", chunk_tokens=self.chunk_tokens, overlap=self.overlap
        )

    def _write(self, chunks, out_dir: str) -> None:
        from wikiextractor_spark.sink import write_training_shards

        write_training_shards(
            chunks, out_dir, n_shards=self.n_shards, seed="perfbench",
            tiebreak_cols=("chunk_no",),
        )

    def job(self, spark, out_dir: str) -> None:
        self._write(self._chunks(spark.read.parquet(self.docs_dir)), out_dir)

    def check(self, out_dir: str) -> str | None:
        try:
            rows = checks.read_shard_rows(out_dir)
        except (OSError, ValueError) as e:
            return f"unreadable shards: {e}"
        return checks.check_corpus(rows, self.truth, self.chunk_tokens, self.overlap)

    def trace(self, spark, tracer: Tracer, out_dir: str) -> dict[str, float]:
        import pyarrow.parquet as pq

        from wikiextractor_spark.operators.dedup import (
            minhash_lsh_candidate_pairs,
            near_duplicate_pairs,
        )
        from wikiextractor_spark.operators.skew import spread_for_compute

        p = Prefix(spark, tracer)
        docs = spark.read.parquet(self.docs_dir)
        for i in range(PREFIX_PASSES):
            with tracer.span("prefixes", pass_no=i):
                p.run("scan", lambda: noop(docs))
                gated = self._prepare(docs, dedup=None)
                p.run("gate", lambda: noop(gated))
                spread = spread_for_compute(gated.select("doc_id", "text"))
                p.run("spread", lambda: noop(spread))
                p.run("dedup", lambda: noop(self._prepare(docs, dedup="near")))
                # near dedup runs eager jobs while the plan is composed,
                # so each prefix composes inside its span
                p.run("chunk", lambda: noop(self._chunks(docs)))
                p.run("full", lambda: self.job(spark, out_dir))
                cached = self._chunks(docs).persist()
                with tracer.span("materialise"):
                    noop(cached)
                p.run("sink", lambda: self._write(cached, out_dir + "-sink"))
                cached.unpersist()
        with tracer.span("counts"):
            n_docs = docs.count()
            n_gated = gated.count()
            candidates = minhash_lsh_candidate_pairs(gated).count()
            verified = near_duplicate_pairs(gated).count()
        failure = self.check(out_dir)
        files = output_files(out_dir)
        raw = packed = 0
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(rg.num_columns):
                    raw += rg.column(c).total_uncompressed_size
                    packed += rg.column(c).total_compressed_size
        return {
            "sources.scan_s": p.wall["scan"],
            "sources.pages_scanned": p.totals["scan"].input_records,
            "sources.scan_tasks": p.totals["scan"].tasks,
            "sources.scan_task_skew": task_skew(p.totals["scan"].scan_task_s),
            "skew.spread_partitions": p.spread_partitions("spread", "gate"),
            "skew.shuffle_write_mb": p.shuffle_write_mb("spread", "gate"),
            "sink.write_s": p.wall["sink"],
            "sink.shards_write_s": p.wall["sink"],
            "sink.bytes_out_mb": sum(os.path.getsize(f) for f in files) / 1e6,
            "sink.files_out": len(files),
            "sink.compress_ratio": raw / max(1, packed),
            "functions.gate_s": p.diff("gate", "scan"),
            "functions.gate_keep_ratio": n_gated / max(1, n_docs),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.pair_precision": verified / max(1, candidates),
            "dedup.s": p.diff("dedup", "gate"),
            "dedup.shuffle_write_mb": p.shuffle_write_mb("dedup", "gate"),
            "chunking.s": p.diff("chunk", "dedup"),
            "chunking.chunks_out": len(checks.read_shard_rows(out_dir)) if failure is None else 0,
            **spark_metrics(p, "full", "scan"),
            "_full_s": p.wall["full"],
            "_failure": failure,
        }


WORKLOADS = {
    w.name: w
    for w in (
        ExtractWorkload("extract_parts", DumpSpec(target_mb=12, parts=8), compress=False),
        ExtractWorkload(
            "extract_bz2_single", DumpSpec(target_mb=5, parts=1, bz2=True), compress=True
        ),
        CorpusWorkload("corpus_near_dedup", n_docs=1500),
    )
}


def checked_job(spark, w: Workload, out_dir: str) -> tuple[float, str | None]:
    """Run one job and check its output: → (wall seconds, failure or
    None).  A job that raises is a failure, not a crash of the run."""
    t0 = time.perf_counter()
    try:
        w.job(spark, out_dir)
        elapsed = time.perf_counter() - t0
        failure = w.check(out_dir)
    except Exception as e:
        elapsed, failure = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
    shutil.rmtree(out_dir, ignore_errors=True)
    return elapsed, failure


def timed_jobs(
    spark, w: Workload, out_root: str, seconds: float, deadline: float, min_jobs: int = 3,
):
    """Closed loop: one job at a time until ``seconds`` have been
    measured (at least ``min_jobs`` jobs, never past the monotonic
    ``deadline``).  Returns per-job wall times and the failures."""
    times, failures = [], []
    start = time.perf_counter()
    while len(times) < min_jobs or time.perf_counter() - start < seconds:
        if time.monotonic() > deadline:
            break
        elapsed, failure = checked_job(spark, w, os.path.join(out_root, f"job-{len(times)}"))
        times.append(elapsed)
        if failure:
            failures.append(failure)
    return times, failures


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
