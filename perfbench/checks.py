"""Output checks, computed independently of the Spark program.

Extract workloads: the benchmark process re-parses the generated dump files with
``xml.etree.ElementTree.iterparse``, applies the extractor's page
filters, runs ``textops.clean_wikitext`` / ``compact_lines`` and renders
the reference record format.  The multiset of records must equal the
records in the job's text output (compared as an order-insensitive
digest), and the record count must equal the generator's article count.

Corpus workload: the shard table's documents must be exactly the
planted survivors (every planted cluster keeps one member, no
non-target-language or low-quality document survives) and its row
count must equal the chunk count recomputed from the survivors' word
counts.
"""

from __future__ import annotations

import bz2
import hashlib
import math
import multiprocessing
import os
import xml.etree.ElementTree as ET
from dataclasses import dataclass

from perfbench.inputs import ACCEPTED_NAMESPACE, DocsTruth


@dataclass(frozen=True)
class Digest:
    """Order-insensitive digest of a multiset of records."""

    count: int
    sha256: str

    @classmethod
    def of(cls, record_hashes: list[str]) -> "Digest":
        h = hashlib.sha256()
        for r in sorted(record_hashes):
            h.update(r.encode())
        return cls(len(record_hashes), h.hexdigest())


def _record_hash(record: str) -> str:
    return hashlib.md5(record.encode("utf-8")).hexdigest()


# --------------------------------------------------------------------------
# Extract workloads
# --------------------------------------------------------------------------

def open_text(path: str):
    if path.endswith(".bz2"):
        return bz2.open(path, "rt", encoding="utf-8")
    return open(path, encoding="utf-8")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _kept(title: str, is_redirect: bool) -> bool:
    """The extractor's page filters: no redirects, and a title is either
    namespace-free or in the accepted namespace."""
    if is_redirect:
        return False
    colon = title.find(":")
    return colon < 0 or title[:colon] == ACCEPTED_NAMESPACE


def iter_pages(path: str):
    """Yield ``(title, is_redirect, text)`` for every page of a dump file."""
    with open_text(path) as f:
        for _event, el in ET.iterparse(f, events=("end",)):
            if _local(el.tag) != "page":
                continue
            title, redirect, text = "", False, ""
            for child in el.iter():
                name = _local(child.tag)
                if name == "title":
                    title = child.text or ""
                elif name == "redirect":
                    redirect = True
                elif name == "text":
                    text = child.text or ""
            el.clear()
            yield title, redirect, text


def article_texts(path: str, max_bytes: int) -> list[str]:
    """Texts of the first kept pages of a dump file, up to ``max_bytes``."""
    out, total = [], 0
    for title, redirect, text in iter_pages(path):
        if _kept(title, redirect):
            out.append(text)
            total += len(text.encode("utf-8"))
            if total >= max_bytes:
                break
    return out


def reference_records(path: str) -> list[str]:
    """Records the extractor must write for one dump file, in the
    reference format without the leading newline:
    ``{title}:{tags}`` followed by one line per compacted line."""
    from wikiextractor_spark import textops

    out = []
    for title, redirect, text in iter_pages(path):
        if _kept(title, redirect):
            lines = textops.compact_lines(textops.clean_wikitext(text))
            out.append("\n".join([f"{title}:"] + lines))
    return out


def _file_record_hashes(path: str) -> list[str]:
    return [_record_hash(r) for r in reference_records(path)]


def reference_digest(paths: list[str]) -> Digest:
    """Digest of :func:`reference_records` over all dump files, one
    worker process per file at a time (it runs before Spark starts)."""
    with multiprocessing.Pool(min(len(paths), len(os.sched_getaffinity(0)))) as pool:
        per_file = pool.map(_file_record_hashes, paths)
        pool.close()
        pool.join()
    return Digest.of([h for hashes in per_file for h in hashes])


def output_records(out_dir: str) -> list[str]:
    """Split a text sink's output back into records.  Each written row
    is ``\\n{title}:{tags}[\\n{line}...]`` plus the writer's newline, and
    compacted lines are never empty, so records are separated by one
    blank line."""
    records = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):
            continue
        with open_text(os.path.join(out_dir, name)) as f:
            content = f.read()
        if not content:
            continue
        if not (content.startswith("\n") and content.endswith("\n")):
            raise ValueError(f"{name}: not a sequence of newline-led records")
        records.extend(content[1:-1].split("\n\n"))
    return records


def output_digest(out_dir: str) -> Digest:
    return Digest.of([_record_hash(r) for r in output_records(out_dir)])


def check_extract(out_dir: str, expected: Digest, articles: int) -> str | None:
    """None when the output matches, else the reason it does not."""
    if expected.count != articles:
        return f"reference recompute kept {expected.count} pages, generator wrote {articles} articles"
    try:
        got = output_digest(out_dir)
    except (OSError, ValueError) as e:
        return f"unreadable output: {e}"
    if got.count != articles:
        return f"output has {got.count} records, expected {articles}"
    if got != expected:
        return "output records differ from the independent recompute"
    return None


# --------------------------------------------------------------------------
# Corpus workload
# --------------------------------------------------------------------------

def expected_chunks(n_words: int, chunk_tokens: int, overlap: int) -> int:
    """Window count of ``chunk_documents``: one window when the document
    fits, else ``ceil((n - overlap) / (chunk - overlap))``."""
    if n_words <= chunk_tokens:
        return 1
    return math.ceil((n_words - overlap) / (chunk_tokens - overlap))


def read_shard_rows(out_dir: str) -> list[tuple[int, int]]:
    """``(doc_id, chunk_no)`` of every row in a shard layout."""
    import pyarrow.dataset as ds

    table = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "chunk_no"]
    )
    return list(zip(table.column("doc_id").to_pylist(), table.column("chunk_no").to_pylist()))


def check_corpus(
    rows: list[tuple[int, int]], truth: DocsTruth, chunk_tokens: int, overlap: int,
) -> str | None:
    """None when the shard rows are right, else the reason they are not."""
    kept = {d for d, _ in rows}
    for members in truth.clusters:
        alive = kept.intersection(members)
        if len(alive) != 1:
            return f"cluster {sorted(members)} kept {len(alive)} members"
    foreign = [d for d in kept if truth.lang.get(d) != "en"]
    if foreign:
        return f"{len(foreign)} non-target-language docs survived, e.g. {foreign[0]}"
    low = kept.intersection(truth.low_quality)
    if low:
        return f"{len(low)} low-quality docs survived"
    want = truth.expected_survivors()
    if kept != want:
        return f"{len(want - kept)} expected survivors missing, {len(kept - want)} unexpected"
    n_chunks = sum(expected_chunks(truth.words[d], chunk_tokens, overlap) for d in want)
    if len(rows) != n_chunks:
        return f"shards hold {len(rows)} rows, expected {n_chunks} chunks"
    if len(set(rows)) != len(rows):
        return "duplicate (doc_id, chunk_no) rows"
    return None
