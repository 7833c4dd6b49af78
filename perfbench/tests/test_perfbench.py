"""Benchmark self-tests: seeded generators are deterministic, and every
output check accepts a correct output and rejects a corrupted one.

    python3 -m pytest perfbench/tests -q      (from the repository root)

No Spark session is needed: correct outputs are rendered from the
checks' own recompute.
"""

from __future__ import annotations

import bz2
import os

import pytest

from perfbench import checks
from perfbench.inputs import DumpSpec, generate_docs, generate_dump, lsh_bands

SMALL_DUMP = DumpSpec(target_mb=0.3, parts=2)


def _read_all(paths):
    return [open(p, "rb").read() for p in paths]


@pytest.mark.parametrize("spec", [SMALL_DUMP, DumpSpec(target_mb=0.2, parts=1, bz2=True)])
def test_dump_generator_same_seed_same_bytes(tmp_path, spec):
    a = generate_dump(str(tmp_path / "a"), 7, spec)
    b = generate_dump(str(tmp_path / "b"), 7, spec)
    c = generate_dump(str(tmp_path / "c"), 8, spec)
    assert _read_all(a.files) == _read_all(b.files)
    assert _read_all(a.files) != _read_all(c.files)
    assert a.articles == b.articles and a.pages == b.pages


def test_docs_generator_same_seed_same_bytes(tmp_path):
    a = generate_docs(str(tmp_path / "a" / "d.parquet"), 7, 300)
    b = generate_docs(str(tmp_path / "b" / "d.parquet"), 7, 300)
    c = generate_docs(str(tmp_path / "c" / "d.parquet"), 8, 300)
    assert _read_all([a.path]) == _read_all([b.path])
    assert _read_all([a.path]) != _read_all([c.path])
    assert a.clusters == b.clusters and a.lang == b.lang
    assert a.clusters, "no duplicate clusters planted"


def test_dump_markup_covers_the_clean_rules(tmp_path):
    man = generate_dump(str(tmp_path / "d"), 3, DumpSpec(target_mb=0.5, parts=1))
    text = "\n".join(t for _title, _red, t in checks.iter_pages(man.files[0]))
    for marker in (
        "{{", "{|", "[[", "[[Category:", "[[w:", "[http", "'''''", "'''", "''\"",
        '""', "&nbsp;", "&#8212;", "&bogus;", "<!--", "<br/>", "<b>", "<a href",
        "<ref>", "<ref name", "<math>", "<code>", "<<", "....", ",,", "\t",
        "__NOTOC__", "++", "<gallery>", "<pre>", "\n* ", "\n# ", "\n(", "\n ",
        "\n== ", "\n=== ",
    ):
        assert marker in text, marker
    assert man.redirects and man.rejected_namespace


def test_dump_compresses_like_a_real_dump(tmp_path):
    man = generate_dump(str(tmp_path / "d"), 5, DumpSpec(target_mb=1.0, parts=1))
    raw = open(man.files[0], "rb").read()
    assert 3.0 < len(raw) / len(bz2.compress(raw)) < 6.5


def test_near_copies_share_an_lsh_band(tmp_path):
    truth = generate_docs(str(tmp_path / "d.parquet"), 11, 300)
    import pyarrow.parquet as pq

    t = pq.read_table(truth.path).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))
    for members in truth.clusters:
        base = lsh_bands(text[members[0]])
        for m in members[1:]:
            assert any(x == y for x, y in zip(base, lsh_bands(text[m])))


# --------------------------------------------------------------------------
# Extract check
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def dump(tmp_path_factory):
    d = tmp_path_factory.mktemp("dump")
    man = generate_dump(str(d / "in"), 21, SMALL_DUMP)
    records = [r for f in man.files for r in checks.reference_records(f)]
    return man, records, checks.reference_digest(man.files)


def _write_output(out_dir, records, compress=False):
    """Render records the way the text sink writes them."""
    os.makedirs(out_dir, exist_ok=True)
    data = "".join("\n" + r + "\n" for r in records)
    path = os.path.join(out_dir, "part-00000.txt")
    if compress:
        with bz2.open(path + ".bz2", "wt", encoding="utf-8") as f:
            f.write(data)
    else:
        with open(path, "w", encoding="utf-8") as f:
            f.write(data)
    open(os.path.join(out_dir, "_SUCCESS"), "w").close()
    return str(out_dir)


@pytest.mark.parametrize("compress", [False, True])
def test_extract_check_accepts_the_reference_output(tmp_path, dump, compress):
    man, records, expected = dump
    assert expected.count == man.articles
    out = _write_output(tmp_path / "out", list(reversed(records)), compress)
    assert checks.check_extract(out, expected, man.articles) is None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rs: rs[1:],  # a lost record
        lambda rs: rs[:1] + rs,  # a duplicated record
        lambda rs: [rs[0] + "x"] + rs[1:],  # an altered line
        lambda rs: [rs[1]] + rs[1:],  # one record replaced by another
        lambda rs: [rs[0].replace(":", ":extra", 1)] + rs[1:],  # wrong tags
    ],
)
def test_extract_check_rejects_corrupted_output(tmp_path, dump, corrupt):
    man, records, expected = dump
    out = _write_output(tmp_path / "out", corrupt(list(records)))
    assert checks.check_extract(out, expected, man.articles) is not None


# --------------------------------------------------------------------------
# Corpus check
# --------------------------------------------------------------------------

CHUNK, OVERLAP = 64, 16


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("docs")
    truth = generate_docs(str(d / "d.parquet"), 31, 400)
    rows = [
        (doc, n)
        for doc in sorted(truth.expected_survivors())
        for n in range(checks.expected_chunks(truth.words[doc], CHUNK, OVERLAP))
    ]
    return truth, rows


def test_corpus_check_accepts_the_expected_shards(tmp_path, corpus):
    import pyarrow as pa
    import pyarrow.parquet as pq

    truth, rows = corpus
    for shard in range(2):
        part = [r for r in rows if r[0] % 2 == shard]
        os.makedirs(tmp_path / f"shard_id={shard}")
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in part], "chunk_no": [r[1] for r in part]}),
            tmp_path / f"shard_id={shard}" / "part-0.parquet",
        )
    got = checks.read_shard_rows(str(tmp_path))
    assert sorted(got) == sorted(rows)
    assert checks.check_corpus(got, truth, CHUNK, OVERLAP) is None


def _second_member(truth):
    return sorted(truth.clusters[0])[1]


def _foreign(truth):
    return next(d for d, lang in truth.lang.items() if lang != "en")


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows, t: rows + [(_second_member(t), 0)],  # two cluster survivors
        lambda rows, t: [r for r in rows if r[0] != min(t.clusters[0])],  # none
        lambda rows, t: rows + [(_foreign(t), 0)],  # a non-target-language doc
        lambda rows, t: rows + [(t.low_quality[0], 0)],  # a low-quality doc
        lambda rows, t: rows[1:],  # a lost chunk
        lambda rows, t: rows + rows[:1],  # a duplicated chunk
    ],
)
def test_corpus_check_rejects_corrupted_shards(corpus, corrupt):
    truth, rows = corpus
    assert checks.check_corpus(corrupt(list(rows), truth), truth, CHUNK, OVERLAP) is not None
