"""Differential tests for the bug-compatible fallback line parser:
its page assembly must match the reference's state machine even on
adversarial layouts where the XML source (intentionally) diverges.
"""

from __future__ import annotations

import subprocess
import sys

import pytest

from wikiextractor_spark.sources.lineparser import (
    discover_base_prefix_lines,
    iter_file_lines,
    iter_pages,
    read_pages_lineparser,
)

WELL_FORMED = """<mediawiki>
  <siteinfo>
    <base>https://xx.wikipedia.org/wiki/Main_Page</base>
  </siteinfo>
  <page>
    <title>Alpha</title>
    <id>1</id>
    <revision>
      <id>901</id>
      <text xml:space="preserve">Alpha body line.
Second line.</text>
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
</mediawiki>
"""

# The reference parser swallows most of this (first-tag-per-line rule):
# raw '<' inside text hides </text>; one-line revisions hide <text>.
ADVERSARIAL = """<mediawiki>
  <siteinfo>
    <base>https://xx.wikipedia.org/wiki/Main_Page</base>
  </siteinfo>
  <page>
    <title>Alpha</title>
    <id>1</id>
    <revision>
      <id>901</id>
      <text xml:space="preserve">line with raw <math>x</math> tags.</text>
    </revision>
  </page>
  <page>
    <title>Category:Skipme</title>
    <id>2</id>
    <revision><id>902</id><text xml:space="preserve">should not appear</text></revision>
  </page>
  <page>
    <title>Beta</title>
    <id>4</id>
    <revision>
      <id>904</id>
      <text xml:space="preserve">Beta first line.
++Beta++
Final line.</text>
    </revision>
  </page>
</mediawiki>
"""

ONELINE_TEXT = """<mediawiki>
  <page>
    <title>Single</title>
    <id>7</id>
    <revision>
      <id>907</id>
      <text xml:space="preserve">whole body on one line</text>
    </revision>
  </page>
</mediawiki>
"""


def reference_golden(tmp_path, dump_text: str) -> str:
    dump = tmp_path / "dump.xml"
    dump.write_text(dump_text, encoding="utf8")
    subprocess.run(
        [sys.executable, "/root/reference/WikiExtractor.py", "--infn", "dump.xml"],
        cwd=tmp_path,
        check=True,
        capture_output=True,
    )
    return (tmp_path / "wiki.txt").read_text(encoding="utf8")


def engine_render(dump_text: str) -> str:
    """Run parse → filters → clean → compact with the pure-Python
    kernels, rendering the reference's record format."""
    from wikiextractor_spark import textops
    from wikiextractor_spark.config import ExtractorConfig

    cfg = ExtractorConfig()
    out = []
    for page in iter_pages(iter_file_lines(dump_text)):
        title = page["title"]
        colon = title.find(":")
        if page["is_redirect"]:
            continue
        if not (colon < 0 or title[:colon] in cfg.accepted_namespaces):
            continue
        cleaned = textops.clean_wikitext(page["text"])
        out.append("\n%s:%s" % (title, ""))
        out.extend(textops.compact_lines(cleaned, structure=False))
    return "\n".join(out) + "\n" if out else ""


@pytest.mark.parametrize(
    "dump", [WELL_FORMED, ADVERSARIAL, ONELINE_TEXT], ids=["plain", "adversarial", "oneline"]
)
def test_lineparser_matches_reference_bytes(tmp_path, dump):
    golden = reference_golden(tmp_path, dump)
    assert engine_render(dump) == golden


def test_adversarial_quirks_reproduced():
    pages = {p["title"]: p for p in iter_pages(iter_file_lines(ADVERSARIAL))}
    # raw '<math>' inside a one-line <text> triggers the lastindex==4
    # branch: text truncates at the first inner tag (reference parity)
    assert pages["Alpha"]["text"] == "line with raw \n"
    # one-line <revision><id>..<text>.. never enters text mode: the
    # standalone <id>2</id> line is captured but the body is lost
    assert pages["Category:Skipme"]["page_id_raw"] == "2"
    assert pages["Category:Skipme"]["text"] == ""
    # multi-line text keeps the reference's doubled first newline
    # (group(3) captures the line terminator AND '\n' is appended)
    assert pages["Beta"]["text"].startswith("Beta first line.\n\n")


def test_stuck_intext_swallows_pages():
    """A multi-line <text> whose closing </text> line starts with a
    different raw tag leaves the parser in text mode: following pages
    are swallowed and the first id leaks (behavior verified by running
    the reference CLI on this exact layout)."""
    dump = """<mediawiki>
  <page>
    <title>Alpha</title>
    <id>1</id>
    <revision>
      <id>901</id>
      <text xml:space="preserve">first line
<math>x</math> hides the close</text>
    </revision>
  </page>
  <page>
    <title>Beta</title>
    <id>4</id>
    <revision>
      <id>904</id>
      <text xml:space="preserve">beta line
Final line.</text>
    </revision>
  </page>
</mediawiki>
"""
    pages = list(iter_pages(iter_file_lines(dump)))
    assert len(pages) == 1
    assert pages[0]["title"] == "Beta"
    assert pages[0]["page_id_raw"] == "1"  # leaked from swallowed Alpha


def test_base_prefix_discovery():
    assert (
        discover_base_prefix_lines(iter_file_lines(WELL_FORMED))
        == "https://xx.wikipedia.org/wiki"
    )


def test_spark_wrapper_matches_pure_python(spark, tmp_path):
    dump = tmp_path / "dump.xml"
    dump.write_text(WELL_FORMED + ONELINE_TEXT.replace("<mediawiki>", "").replace("</mediawiki>", ""), encoding="utf8")
    rows = read_pages_lineparser(spark, str(dump)).collect()
    pure = list(iter_pages(iter_file_lines(dump.read_text(encoding="utf8"))))
    assert len(rows) == len(pure)
    by_title = {r["title"]: r for r in rows}
    for page in pure:
        r = by_title[page["title"]]
        assert r["text"] == page["text"]
        assert r["page_id_raw"] == page["page_id_raw"]
        assert r["page_id"] == int(page["page_id_raw"])


def test_cli_line_parser(spark, tmp_path, monkeypatch):
    import os

    from wikiextractor_spark.__main__ import main

    dump = tmp_path / "dump.xml"
    dump.write_text(WELL_FORMED, encoding="utf8")
    out = tmp_path / "out"
    # main() getOrCreate()s the fixture session — keep it alive for
    # the rest of the suite
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    main(["--infn", str(dump), "--out", str(out), "--parser", "line"])
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    payload = "".join((out / p).read_text(encoding="utf8") for p in parts)
    assert "Alpha:" in payload and "Redirected" not in payload


def test_cli_line_parser_spreads_pages(spark, tmp_path, monkeypatch):
    """The line parser reads a dump file in one task; the CLI spreads
    its kept pages over the cores before the clean and compact UDFs,
    as it does for the xml source."""
    import wikiextractor_spark.pipeline as pipeline
    from wikiextractor_spark.__main__ import main

    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("one core: nothing to spread over")
    dump = tmp_path / "dump.xml"
    dump.write_text(WELL_FORMED, encoding="utf8")
    seen = []
    monkeypatch.setattr(
        pipeline, "pages_to_text", lambda spark, pages, *a, **k: seen.append(pages)
    )
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    main(["--infn", str(dump), "--out", str(tmp_path / "out"), "--parser", "line"])
    assert seen[0].rdd.getNumPartitions() == cores
