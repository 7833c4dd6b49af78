"""Golden differential tests: the full Spark pipeline vs the reference
CLI on synthetic dumps (SURVEY.md §5.3.1).

Comparison is document-set based (order-insensitive, split on the
``\\ntitle:tags`` headers) matching the driver's order-insensitive
hash; the reference emits in dump order, Spark in partition order.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from wikiextractor_spark.config import ExtractorConfig
from wikiextractor_spark.pipeline import extract_documents, extract_to_text

DUMP = """<mediawiki>
  <siteinfo>
    <base>https://xx.wikipedia.org/wiki/Main_Page</base>
  </siteinfo>
  <page>
    <title>Alpha</title>
    <id>1</id>
    <revision>
      <id>901</id>
      <text xml:space="preserve">{{infobox|a=1}}
'''Alpha''' is a [[letter]] used in [[Category:Greek|greek]] writing.
== History ==
It has &amp;nbsp; history with &#65;ncient roots.
* a list item
Some &lt;b&gt;bold html&lt;/b&gt; and a &lt;ref&gt;citation&lt;/ref&gt; end.
== Empty ==
== Usage ==
Used widely today &lt;math&gt;x^2&lt;/math&gt; and &lt;math&gt;y&lt;/math&gt;.</text>
    </revision>
  </page>
  <page>
    <title>Category:Skipme</title>
    <id>2</id>
    <revision>
      <id>902</id>
      <text xml:space="preserve">should not appear</text>
    </revision>
  </page>
  <page>
    <title>Redirected</title>
    <id>3</id>
    <redirect title="Alpha" />
    <revision>
      <id>903</id>
      <text xml:space="preserve">#REDIRECT [[Alpha]]</text>
    </revision>
  </page>
  <page>
    <title>Beta</title>
    <id>4</id>
    <revision>
      <id>904</id>
      <text xml:space="preserve">Beta follows alpha. See codes and {| class="t" | cell |} tables.
++Beta++
(parenthetical line)
Final line.</text>
    </revision>
  </page>
  <page>
    <title>w:Accepted</title>
    <id>5</id>
    <revision>
      <id>905</id>
      <text xml:space="preserve">Namespace w is accepted.</text>
    </revision>
  </page>
</mediawiki>
"""

INCUBATOR_DUMP = """<mediawiki>
  <siteinfo>
    <base>https://incubator.wikimedia.org/wiki/Main_Page</base>
  </siteinfo>
  <page>
    <title>Wp/enm/Foo</title>
    <id>10</id>
    <revision>
      <id>910</id>
      <text xml:space="preserve">Middle English foo text.</text>
    </revision>
  </page>
  <page>
    <title>Wp/enm/Foo/Bar</title>
    <id>11</id>
    <revision>
      <id>911</id>
      <text xml:space="preserve">Subpage keeps only third component.</text>
    </revision>
  </page>
  <page>
    <title>Wp/other/Baz</title>
    <id>12</id>
    <revision>
      <id>912</id>
      <text xml:space="preserve">Wrong language, dropped.</text>
    </revision>
  </page>
</mediawiki>
"""
# NB: no slash-less titles in the incubator fixture — the reference
# CRASHES on them (IndexError: ``lang[1]`` is evaluated before the
# ``len(lang) > 2`` guard, WikiExtractor.py:631).  The engine's P4
# filter implements the intended semantics and simply drops them
# (covered by test_incubator_slashless_title below).


def run_reference(tmp_path, dump_text: str, *args: str) -> str:
    """Run the reference CLI in a fresh CWD (wiki.txt is append-mode)
    and return the produced wiki.txt."""
    dump = tmp_path / "dump.xml"
    dump.write_text(dump_text, encoding="utf8")
    subprocess.run(
        [sys.executable, "/root/reference/WikiExtractor.py", "--infn", "dump.xml", *args],
        cwd=tmp_path,
        check=True,
        capture_output=True,
    )
    return (tmp_path / "wiki.txt").read_text(encoding="utf8")


def doc_set(wiki_txt: str) -> set[str]:
    """Split reference-format output into an order-insensitive set of
    document blocks (header starts with an empty line)."""
    blocks = wiki_txt.split("\n\n")
    return {b.strip() for b in blocks if b.strip()}


def spark_doc_set(docs) -> set[str]:
    out = set()
    for row in docs.collect():
        header = "%s:%s" % (row["title"], "|||".join(row["tags"] or []))
        block = "\n".join([header] + list(row["lines"] or []))
        out.add(block.strip())
    return out


def test_golden_plain_dump(spark, tmp_path):
    golden = run_reference(tmp_path, DUMP)
    docs = extract_documents(spark, str(tmp_path / "dump.xml"))
    assert spark_doc_set(docs) == doc_set(golden)


def test_golden_incubator_dump(spark, tmp_path):
    golden = run_reference(tmp_path, INCUBATOR_DUMP, "--incubator", "enm")
    cfg = ExtractorConfig(incubator="enm")
    docs = extract_documents(spark, str(tmp_path / "dump.xml"), cfg)
    assert spark_doc_set(docs) == doc_set(golden)
    # the lang[2] truncation quirk: Wp/enm/Foo/Bar emits title 'Foo'
    titles = sorted(r["title"] for r in docs.select("title").collect())
    assert titles == ["Foo", "Foo"]


def test_incubator_slashless_title(spark, tmp_path):
    """Slash-less titles crash the reference in incubator mode; the
    engine drops them per the intended P4 semantics."""
    dump = INCUBATOR_DUMP.replace(
        "</mediawiki>",
        "  <page>\n    <title>Mainspace</title>\n    <id>13</id>\n"
        "    <revision>\n      <id>913</id>\n"
        '      <text xml:space="preserve">No slash.</text>\n'
        "    </revision>\n  </page>\n</mediawiki>",
    )
    (tmp_path / "dump.xml").write_text(dump, encoding="utf8")
    cfg = ExtractorConfig(incubator="enm")
    docs = extract_documents(spark, str(tmp_path / "dump.xml"), cfg)
    titles = sorted(r["title"] for r in docs.select("title").collect())
    assert titles == ["Foo", "Foo"]


def test_golden_bz2_dump(spark, tmp_path):
    import bz2 as bz2mod

    golden = run_reference(tmp_path, DUMP)  # reference on plain xml
    bz2_path = tmp_path / "dump2.xml.bz2"
    bz2_path.write_bytes(bz2mod.compress(DUMP.encode("utf8")))
    docs = extract_documents(spark, str(bz2_path))
    assert spark_doc_set(docs) == doc_set(golden)


def test_url_prefix_discovery(spark, tmp_path):
    (tmp_path / "dump.xml").write_text(DUMP, encoding="utf8")
    docs = extract_documents(spark, str(tmp_path / "dump.xml"))
    urls = {r["page_id"]: r["url"] for r in docs.select("page_id", "url").collect()}
    assert urls[1] == "https://xx.wikipedia.org/wiki?curid=1"


def test_url_prefix_discovery_multifile(spark, tmp_path):
    """A split dump where ``<base>`` lives ONLY in the first member
    file: the header probe must target the lexicographically-first
    file, not whichever split Spark schedules first (r1 used
    ``limit(400)`` over the whole load — undefined split order)."""
    d = tmp_path / "dump_dir"
    d.mkdir()
    head, _, tail = DUMP.partition("  <page>\n    <title>Beta</title>")
    (d / "a_dump.xml").write_text(head + "</mediawiki>\n", encoding="utf8")
    # second file: pages only, NO siteinfo/base header
    (d / "b_dump.xml").write_text(
        "<mediawiki>\n  <page>\n    <title>Beta</title>" + tail,
        encoding="utf8",
    )
    docs = extract_documents(spark, str(d))
    urls = {r["title"]: r["url"] for r in docs.select("title", "url").collect()}
    assert urls["Alpha"] == "https://xx.wikipedia.org/wiki?curid=1"
    # pages from the headerless file get the SAME discovered prefix
    assert urls["Beta"] == "https://xx.wikipedia.org/wiki?curid=4"


def test_url_prefix_discovery_skips_marker_files(spark, tmp_path):
    """A job-output directory (``part-*`` plus a ``_SUCCESS`` marker
    and hidden ``.crc`` files): the header probe must read the first
    file the page scan reads, not the marker that sorts before it.
    The space in the directory name pins the listing's URI decode."""
    from wikiextractor_spark.sources.dump import discover_base_prefix

    d = tmp_path / "dump out"
    d.mkdir()
    (d / "part-00000.xml").write_text(DUMP, encoding="utf8")
    (d / "_SUCCESS").write_text("", encoding="utf8")
    (d / ".part-00000.xml.crc").write_text("crc", encoding="utf8")
    assert discover_base_prefix(spark, str(d)) == "https://xx.wikipedia.org/wiki"
    docs = extract_documents(spark, str(d))
    urls = {r["page_id"]: r["url"] for r in docs.select("page_id", "url").collect()}
    assert urls[1] == "https://xx.wikipedia.org/wiki?curid=1"


def test_vital_titles_join(spark, tmp_path):
    (tmp_path / "dump.xml").write_text(DUMP, encoding="utf8")
    (tmp_path / "vital.txt").write_text(
        "Alpha|||science|||vital\nAbsent|||x\n", encoding="utf8"
    )
    docs = extract_documents(
        spark, str(tmp_path / "dump.xml"), vital_path=str(tmp_path / "vital.txt")
    )
    rows = {r["title"]: r["tags"] for r in docs.select("title", "tags").collect()}
    assert set(rows) == {"Alpha"}
    assert rows["Alpha"] == ["science", "vital"]


def test_write_documents_text(spark, tmp_path):
    (tmp_path / "dump.xml").write_text(DUMP, encoding="utf8")
    out = tmp_path / "out"
    extract_to_text(spark, str(tmp_path / "dump.xml"), str(out))
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert parts
    payload = "".join(
        (out / p).read_text(encoding="utf8") for p in parts
    )
    assert "Alpha:" in payload and "Beta:" in payload


def test_write_documents_structured(spark, tmp_path):
    from wikiextractor_spark.pipeline import extract_documents
    from wikiextractor_spark.sink import write_documents_structured

    (tmp_path / "dump.xml").write_text(DUMP, encoding="utf8")
    docs = extract_documents(spark, str(tmp_path / "dump.xml"))
    write_documents_structured(docs, str(tmp_path / "pq"), fmt="parquet")
    back = spark.read.parquet(str(tmp_path / "pq"))
    assert back.count() == docs.count()
    assert set(back.columns) == {"page_id", "url", "title", "tags", "cleaned", "lines"}
    write_documents_structured(docs, str(tmp_path / "js"), fmt="jsonl")
    assert spark.read.json(str(tmp_path / "js")).count() == docs.count()


@pytest.mark.parametrize("n", [0, -1])
@pytest.mark.parametrize("writer", ["text", "structured"])
def test_sinks_reject_non_positive_max_records_per_file(spark, tmp_path, writer, n):
    """Spark reads ``maxRecordsPerFile`` below 1 as "no limit", so both
    document writers must refuse it rather than write unsplit files."""
    from wikiextractor_spark.sink import write_documents, write_documents_structured

    df = spark.createDataFrame([("x",)], "value string")
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="max_records_per_file"):
        if writer == "text":
            write_documents(df, out, max_records_per_file=n)
        else:
            write_documents_structured(df, out, max_records_per_file=n)
    assert not os.path.exists(out)


def test_extract_to_text_runs_one_job(spark, tmp_path):
    """The text record has no URL, so ``extract_to_text`` runs only its
    write: no URL-prefix probe job.  AQE is off while the jobs are
    counted, because it submits each shuffle stage of the spread (a
    two-file dump has fewer scan splits than cores) as a job of its
    own."""
    d = tmp_path / "dump_dir"
    d.mkdir()
    head, _, tail = DUMP.partition("  <page>\n    <title>Beta</title>")
    (d / "a_dump.xml").write_text(head + "</mediawiki>\n", encoding="utf8")
    (d / "b_dump.xml").write_text(
        "<mediawiki>\n  <page>\n    <title>Beta</title>" + tail, encoding="utf8"
    )
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("extract-to-text-jobs", "extract_to_text job count")
    try:
        extract_to_text(spark, str(d), str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup("extract-to-text-jobs")) == 1
    payload = "".join(p.read_text(encoding="utf8") for p in (tmp_path / "out").glob("part-*"))
    assert "Alpha:" in payload and "Beta:" in payload
