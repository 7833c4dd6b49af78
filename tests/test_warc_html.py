"""Raw-WARC ``response`` source + HTML→text extraction (r10): the
C4/RefinedWeb re-extraction layer below WET.  Strict byte-exact
round trips (charset decode, chunked bodies, adversarial magic in
payload), the native path's stated-trade parity, the html_to_text
cascade contract, and its DuckDB oracle twin."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from wikiextractor_spark.functions.html import (
    extract_main_content,
    extract_main_content_duckdb_sql,
    html_lang,
    html_lang_duckdb_sql,
    html_title,
    html_title_duckdb_sql,
    html_to_text,
    html_to_text_duckdb_sql,
)
from wikiextractor_spark.sources.wet import (
    _dechunk,
    _split_http_response,
    read_warc_responses,
    warc_html_documents,
)

DATE = "2021-06-01T12:00:00Z"


def _http(body: bytes, ctype: str = "text/html; charset=utf-8",
          status: int = 200, chunked: bool = False) -> bytes:
    if chunked:
        chunks = [body[i:i + 7] for i in range(0, len(body), 7)]
        body = b"".join(
            b"%x\r\n%s\r\n" % (len(c), c) for c in chunks
        ) + b"0\r\n\r\n"
        te = b"Transfer-Encoding: chunked\r\n"
    else:
        te = b""
    return (
        b"HTTP/1.1 %d OK\r\nContent-Type: %s\r\n" % (status, ctype.encode())
        + te + b"\r\n" + body
    )


def _response_record(url: str, http: bytes, date: str = DATE) -> bytes:
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return head + http + b"\r\n\r\n"


HTML = (
    "<html><head><title>skip me</title></head><body>\n"
    "<!-- comment with <p>hidden</p> tags -->\n"
    "<script>var x = 1 < 2; document.write('<b>no</b>');</script>\n"
    "<h1>Header &amp;lt; once</h1>\n"
    "<p>Para one with <b>bold</b> and &nbsp;entity &amp; amp.</p>\n"
    "<ul><li>item a</li><li>item b</li></ul>\n"
    "<style>p { color: red }</style>\n"
    "stray < left alone</body></html>"
)
HTML_TEXT = (
    "Header &lt; once\nPara one with bold and entity & amp.\n"
    "item a\nitem b\nstray < left alone"
)


def _crawl_bytes() -> bytes:
    latin = "café résumé".encode("latin-1")
    # payload containing the record magic on its own line: only
    # Content-Length framing survives this
    evil = b"<p>before</p>\nWARC/1.0\n<p>after the fake header</p>"
    return (
        _response_record("http://a.ex/", _http(HTML.encode()))
        + _response_record(
            "http://b.ex/",
            _http(b"<p>" + latin + b"</p>",
                  ctype="text/html; charset=ISO-8859-1"),
        )
        + _response_record(
            "http://c.ex/", _http(HTML.encode(), chunked=True)
        )
        + _response_record(
            "http://d.ex/", _http(b"<p>gone</p>", status=404)
        )
        + _response_record("http://e.ex/", _http(evil))
    )


def test_strict_response_round_trip(spark, tmp_path):
    p = tmp_path / "crawl.warc"
    p.write_bytes(_crawl_bytes())
    rows = {
        r["url"]: r
        for r in read_warc_responses(spark, str(p), strict=True).collect()
    }
    assert set(rows) == {f"http://{c}.ex/" for c in "abcde"}
    a = rows["http://a.ex/"]
    assert a["http_status"] == 200
    assert a["charset"] == "utf-8"
    assert a["html"] == HTML
    assert a["content_length"] == len(_http(HTML.encode()))
    # declared charset honored byte-for-byte
    assert rows["http://b.ex/"]["html"] == "<p>café résumé</p>"
    assert rows["http://b.ex/"]["charset"] == "ISO-8859-1"
    # chunked transfer coding removed: body equals the unchunked twin
    assert rows["http://c.ex/"]["html"] == HTML
    assert rows["http://d.ex/"]["http_status"] == 404
    # the WARC/1.0 line inside the body did not split the record
    assert "fake header" in rows["http://e.ex/"]["html"]


def test_non_http_payload_is_all_body(spark, tmp_path):
    raw = _response_record("http://x.ex/", b"no preamble at all")
    p = tmp_path / "crawl.warc"
    p.write_bytes(raw)
    r = read_warc_responses(spark, str(p), strict=True).collect()[0]
    assert r["http_status"] is None
    assert r["content_type"] is None
    assert r["html"] == "no preamble at all"


def test_header_only_payload_has_empty_body():
    status, ctype, charset, body = _split_http_response(
        b"HTTP/1.1 204 No Content\r\nContent-Type: text/html"
    )
    assert status == 204
    assert ctype == "text/html"
    assert body == b""


def test_first_content_type_wins_and_unknown_charset_falls_back():
    status, ctype, charset, body = _split_http_response(
        b"HTTP/1.0 200 OK\r\nContent-Type: text/html; charset=klingon\r\n"
        b"Content-Type: text/plain\r\n\r\nbody"
    )
    assert ctype == "text/html; charset=klingon"
    assert charset == "klingon"
    from wikiextractor_spark.sources.wet import _decode_body

    # unknown declared charset: utf-8-replace fallback, never a raise
    assert _decode_body("é".encode(), "klingon") == "é"


def test_malformed_chunked_body_raises():
    with pytest.raises(ValueError, match="non-hex chunk size"):
        _dechunk(b"zz\r\nabc\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="overruns"):
        _dechunk(b"ff\r\nshort\r\n0\r\n\r\n")
    with pytest.raises(ValueError, match="terminator"):
        _dechunk(b"5")


def test_native_response_parity_on_benign_records(spark, tmp_path):
    # benign = unchunked, UTF-8, no trailing-newline payload: the
    # native path's stated-trade domain
    raw = _response_record(
        "http://a.ex/", _http(HTML.encode())
    ) + _response_record(
        "http://d.ex/", _http(b"<p>gone</p>", status=404)
    )
    p = tmp_path / "crawl.warc"
    p.write_bytes(raw)
    cols = ["url", "warc_date", "content_length", "http_status",
            "content_type", "charset", "html"]
    strict = sorted(
        tuple(r[c] for c in cols)
        for r in read_warc_responses(spark, str(p), strict=True).collect()
    )
    native = sorted(
        tuple(r[c] for c in cols)
        for r in read_warc_responses(spark, str(p), strict=False).collect()
    )
    assert strict == native


def test_warc_html_documents_end_to_end(spark, tmp_path):
    p = tmp_path / "crawl.warc"
    p.write_bytes(_crawl_bytes())
    docs = warc_html_documents(spark, str(p))
    rows = {r["url"]: r for r in docs.collect()}
    # the 404 is filtered by the C4-convention status gate
    assert set(rows) == {f"http://{c}.ex/" for c in "abce"}
    assert rows["http://a.ex/"]["text"] == HTML_TEXT
    assert rows["http://b.ex/"]["text"] == "café résumé"
    # ids deterministic and distinct per (url, date, html)
    again = {r["url"]: r for r in warc_html_documents(spark, str(p)).collect()}
    assert all(rows[u]["doc_id"] == again[u]["doc_id"] for u in rows)
    assert len({r["doc_id"] for r in rows.values()}) == len(rows)
    # statuses=None keeps the 404
    assert warc_html_documents(spark, str(p), statuses=None).count() == 5


def test_html_to_text_cascade_contract(spark):
    cases = {
        # unclosed drop-element: content survives, dangling tag dropped
        "<script>alert(1)\nvisible? yes": "alert(1)\nvisible? yes",
        # nested blocks become line structure
        "<div>a<div>b</div>c</div>": "a\nb\nc",
        # numeric character references are NOT decoded (stated limit)
        "x &#65; y": "x &#65; y",
        # &amp; decoded LAST: double-encoded unescapes exactly once
        "&amp;amp; &amp;nbsp;": "&amp; &nbsp;",
        # case-insensitive tags, attributes with >-free values
        '<P CLASS="x">Hi</P><BR>there': "Hi\nthere",
        # whitespace: horizontal runs collapse, blank lines drop
        "a\t\t b\n\n\n   \nc": "a b\nc",
        # comment spanning lines, containing tags
        "u<!-- x\n<p>y</p>\n -->v": "uv",
    }
    df = spark.createDataFrame(
        [(k,) for k in cases], "html string"
    ).select("html", html_to_text(F.col("html")).alias("t"))
    got = {r["html"]: r["t"] for r in df.collect()}
    assert got == cases


def test_html_to_text_duckdb_twin(spark):
    samples = [HTML] + [
        "<table><tr><td>a</td><td>b&lt;</td></tr></table>",
        "<svg><circle r='1'/></svg>kept",
        "plain text, no markup at all",
        "<noscript>enable js</noscript><main>body &quot;q&quot;</main>",
        "<pre>  spaced   out  </pre>",
        # Unicode case-folding trap: Java (?i) folds ASCII only, RE2
        # folds ſ→s — the explicit-char-class tag patterns must keep
        # both engines from dropping this as a script element
        "<ſcript>x</ſcript> kept",
        "",
        None,
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "html string")
    spark_out = [
        r["t"]
        for r in sdf.select(html_to_text(F.col("html")).alias("t"))
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE h (i INT, html VARCHAR)")
    con.executemany(
        "INSERT INTO h VALUES (?, ?)", list(enumerate(samples))
    )
    duck_out = [
        r[0]
        for r in con.execute(
            f"SELECT {html_to_text_duckdb_sql('html')} FROM h ORDER BY i"
        ).fetchall()
    ]
    assert spark_out == duck_out


def test_html_to_text_is_native(spark):
    """The cascade must stay a pure expression tree — no Python UDF,
    no exchange: one codegen stage over the scan at 100 TB."""
    df = spark.createDataFrame([("<p>x</p>",)], "html string").select(
        html_to_text(F.col("html")).alias("t")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


_ARTICLE = (
    "This paragraph carries enough ordinary prose to clear the "
    "length floor comfortably and it mentions a "
    '<a href="/ref">reference</a> inline.'
)
_LINK_FARM = (
    '<a href="/">Home page</a> <a href="/a">About the site</a> '
    '<a href="/c">Contact and press</a> <a href="/t">Terms</a>'
)


def test_extract_main_content_contract(spark):
    cases = {
        # long low-density paragraph kept (inline anchor counted, but
        # its share is far under the 33% ceiling)
        f"<p>{_ARTICLE}</p>": (
            "This paragraph carries enough ordinary prose to clear "
            "the length floor comfortably and it mentions a "
            "reference inline."
        ),
        # nav link farm: long enough to pass the floor, ~100% link
        # density — dropped; the article block survives alone
        f"<nav>{_LINK_FARM}</nav><p>{_ARTICLE}</p>": (
            "This paragraph carries enough ordinary prose to clear "
            "the length floor comfortably and it mentions a "
            "reference inline."
        ),
        # short blocks dropped by the length floor even with no links
        "<p>too short</p><h1>Title</h1>": "",
        # invisible elements and comments never reach a block
        f"<script>var x = 'very long boilerplate string here';"
        f"</script><!-- {'c' * 40} --><p>{_ARTICLE}</p>": (
            "This paragraph carries enough ordinary prose to clear "
            "the length floor comfortably and it mentions a "
            "reference inline."
        ),
        # every surviving block becomes ONE whitespace-collapsed line
        "<div>first   long block of perfectly ordinary body "
        "prose</div><div>second\nlong block of perfectly ordinary "
        "body prose</div>": (
            "first long block of perfectly ordinary body prose\n"
            "second long block of perfectly ordinary body prose"
        ),
        # <br>/<hr> are NOT block boundaries for main-content: a
        # br-separated paragraph (addresses, poetry) scores as ONE
        # block — per-line scoring would length-cut every line
        "<p>221B Baker St<br>London NW1<br>United Kingdom<hr></p>": (
            "221B Baker St London NW1 United Kingdom"
        ),
        None: None,
    }
    df = spark.createDataFrame(
        [(k,) for k in cases], "html string"
    ).select("html", extract_main_content(F.col("html")).alias("t"))
    got = {r["html"]: r["t"] for r in df.collect()}
    assert got == cases


def test_extract_main_content_thresholds(spark):
    """The two knobs move the cut independently, and the density
    comparison is exact integer arithmetic at the boundary."""
    # txt = 30 chars with exactly 10 anchor chars → 1000 <= pct*30
    block = '123456789 <a href="/x">abcdefghij</a> 123456789'
    df = spark.createDataFrame([(f"<p>{block}</p>",)], "html string")

    def run(**kw):
        return df.select(
            extract_main_content(F.col("html"), **kw).alias("t")
        ).first()["t"]

    assert run(max_link_pct=34) != ""
    assert run(max_link_pct=33) == ""   # 1000 > 33*30 = 990
    assert run(max_link_pct=34, min_chars=31) == ""
    assert run(max_link_pct=34, min_chars=30) != ""


def test_extract_main_content_duckdb_twin(spark):
    samples = [
        f"<nav>{_LINK_FARM}</nav><h1>Doc</h1><p>{_ARTICLE}</p>"
        f"<footer>© example.org <a href='/t'>Terms of use</a> "
        f"<a href='/p'>Privacy and cookies</a></footer>",
        # anchor split across a block boundary contributes 0 (stated)
        '<p>start of a perfectly long body paragraph <a href="/x">'
        "anchor</p><p>tail</a> and more perfectly long body prose "
        "to pass the floor</p>",
        # entities inside blocks and anchors
        "<p>A &amp;amp; B with plenty of padding text to pass the "
        'length floor <a href="/y">&lt;tagged&gt; anchor</a></p>',
        "plain text with no markup at all, long enough to keep",
        # \x0B in a close tag: Java's \s would match it where RE2's
        # does not — the explicit-class patterns must keep the two
        # engines identical (anchor NOT closed, script NOT closed)
        '<p>padding text long enough to pass the length floor '
        '<a href="/x">anchor</a\x0b> tail</p>'
        "<script>hidden</script\x0b>visible tail of the page",
        "",
        None,
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "html string")
    spark_out = [
        r["t"]
        for r in sdf.select(
            extract_main_content(F.col("html")).alias("t")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE h (i INT, html VARCHAR)")
    con.executemany(
        "INSERT INTO h VALUES (?, ?)", list(enumerate(samples))
    )
    duck_out = [
        r[0]
        for r in con.execute(
            f"SELECT {extract_main_content_duckdb_sql('html')} "
            "FROM h ORDER BY i"
        ).fetchall()
    ]
    assert spark_out == duck_out


_LEGAL_BLOCK = (
    "Copyright notice: trademark policy disclaimer governs worldwide "
    "usage conditions"
)


def test_extract_main_content_stopword_floor(spark):
    """min_stop_pct (r11): the block-grain stopword density predicate
    — a long, link-free legal/nav block with no function words is cut
    while ordinary prose survives; off by default; integer arithmetic
    exact at the boundary."""
    html = f"<p>{_ARTICLE}</p><p>{_LEGAL_BLOCK}</p>"
    df = spark.createDataFrame([(html,)], "html string")

    def run(**kw):
        return df.select(
            extract_main_content(F.col("html"), **kw).alias("t")
        ).first()["t"]

    # default: both blocks pass length + density
    assert _LEGAL_BLOCK in run()
    # floor on: the stopword-free legal block is cut, prose survives
    out = run(min_stop_pct=5)
    assert _LEGAL_BLOCK not in out
    assert "ordinary prose" in out
    # boundary exactness: 2 stopwords of 8 words = 25%
    b = "the quick brownfox jumping over a lazy sleeping"
    bdf = spark.createDataFrame([(f"<p>{b}</p>",)], "html string")

    def runb(pct):
        return bdf.select(
            extract_main_content(
                F.col("html"), min_stop_pct=pct
            ).alias("t")
        ).first()["t"]

    assert runb(25) == b          # 2*100 >= 25*8 exactly
    assert runb(26) == ""         # 200 < 208
    # punctuation-stripped, case-folded membership: "The," counts
    p = "The, quick brownfox jumping over sleepy lazy architecture"
    pdf = spark.createDataFrame([(f"<p>{p}</p>",)], "html string")
    assert pdf.select(
        extract_main_content(
            F.col("html"), min_stop_pct=12
        ).alias("t")
    ).first()["t"] == p           # 1 of 8 = 12.5% >= 12%


def test_extract_main_content_stopword_duckdb_twin(spark):
    """The stopword-floor twin is generated from the same word list
    and trim pattern — outputs identical on adversarial spacing,
    punctuation-wrapped stopwords, and custom lists."""
    samples = [
        f"<p>{_ARTICLE}</p><p>{_LEGAL_BLOCK}</p>",
        "<p>The, quick brownfox jumping over sleepy lazy "
        "architecture</p>",
        "<div>IN THE COURT OF APPEALS a ruling concerning the "
        "matter of trademark usage</div>",
        "<p>--- ... !!! punctuation only words here padding to pass "
        "floor</p>",
        "",
        None,
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "html string")
    spark_out = [
        r["t"]
        for r in sdf.select(
            extract_main_content(
                F.col("html"), min_stop_pct=7
            ).alias("t")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE h (i INT, html VARCHAR)")
    con.executemany(
        "INSERT INTO h VALUES (?, ?)", list(enumerate(samples))
    )
    duck_out = [
        r[0]
        for r in con.execute(
            "SELECT "
            + extract_main_content_duckdb_sql('html', min_stop_pct=7)
            + " FROM h ORDER BY i"
        ).fetchall()
    ]
    assert spark_out == duck_out
    # custom word list flows through both generators
    spark_c = [
        r["t"]
        for r in sdf.select(
            extract_main_content(
                F.col("html"), min_stop_pct=10,
                stopwords=("trademark", "usage"),
            ).alias("t")
        ).collect()
    ]
    duck_c = [
        r[0]
        for r in con.execute(
            "SELECT "
            + extract_main_content_duckdb_sql(
                'html', min_stop_pct=10,
                stopwords=("trademark", "usage"),
            )
            + " FROM h ORDER BY i"
        ).fetchall()
    ]
    assert spark_c == duck_c


def test_html_page_meta_contract(spark):
    cases = {
        # first title wins; entities unescaped; whitespace collapsed
        '<html lang="en-US"><head><title> A &amp;amp; B \n Co </title>'
        "</head><title>second</title>": ("A &amp; B Co", "en-us"),
        # unquoted lang, uppercase tag
        "<HTML LANG=fr><title>Titre</title>": ("Titre", "fr"),
        # data-lang must NOT match; missing title → ''
        '<html data-lang="xx"><body>no title</body></html>': ("", ""),
        # POSIX-style underscore subtag (r11): admitted, not truncated
        '<html lang="en_US"><title>U</title>': ("U", "en_us"),
        # no metadata at all
        "plain text": ("", ""),
        None: (None, None),
    }
    df = spark.createDataFrame(
        [(k,) for k in cases], "html string"
    ).select(
        "html",
        html_title(F.col("html")).alias("t"),
        html_lang(F.col("html")).alias("l"),
    )
    got = {r["html"]: (r["t"], r["l"]) for r in df.collect()}
    assert got == cases


def test_html_page_meta_duckdb_twin(spark):
    samples = [
        '<html lang="en-GB"><title>Page &lt;1&gt;</title>',
        "<html><head><title>only\ntitle</title></head>",
        "<html lang='de'>kein Titel",
        "<html lang=pt_BR><title>u</title>",
        "",
        None,
    ]
    sdf = spark.createDataFrame([(s,) for s in samples], "html string")
    spark_out = [
        (r["t"], r["l"])
        for r in sdf.select(
            html_title(F.col("html")).alias("t"),
            html_lang(F.col("html")).alias("l"),
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE h (i INT, html VARCHAR)")
    con.executemany(
        "INSERT INTO h VALUES (?, ?)", list(enumerate(samples))
    )
    duck_out = con.execute(
        f"SELECT {html_title_duckdb_sql('html')}, "
        f"{html_lang_duckdb_sql('html')} FROM h ORDER BY i"
    ).fetchall()
    assert spark_out == [tuple(r) for r in duck_out]


def test_warc_html_documents_main_content(spark, tmp_path):
    """main_content=True routes extraction through the block
    classifier: chrome blocks vanish, the article survives, and the
    doc_id (hashed from RAW html) is identical on both settings."""
    body = (
        f"<html><body><nav>{_LINK_FARM}</nav>"
        f"<p>{_ARTICLE}</p></body></html>"
    ).encode()
    p = tmp_path / "c.warc"
    p.write_bytes(_response_record("http://ex.org/m", _http(body)))
    plain = warc_html_documents(spark, str(p)).first()
    main = warc_html_documents(
        spark, str(p), main_content=True
    ).first()
    assert "Home page" in plain["text"]
    assert "Home page" not in main["text"]
    assert "ordinary prose" in main["text"]
    assert plain["doc_id"] == main["doc_id"]


def test_warc_html_documents_with_meta(spark, tmp_path):
    body = (
        '<html lang="en-GB"><head><title>The &amp;amp; Page</title>'
        f"</head><body><p>{_ARTICLE}</p></body></html>"
    ).encode()
    p = tmp_path / "m.warc"
    p.write_bytes(_response_record("http://ex.org/t", _http(body)))
    r = warc_html_documents(spark, str(p), with_meta=True).first()
    assert r["title"] == "The &amp; Page"
    assert r["declared_lang"] == "en-gb"
    # default surface unchanged
    base = warc_html_documents(spark, str(p)).columns
    assert base == ["doc_id", "url", "text"]


def test_cli_warc_source(spark, tmp_path, monkeypatch):
    """`python -m wikiextractor_spark --source warc` ingests raw WARC
    responses and writes the documents surface as parquet."""
    from wikiextractor_spark.__main__ import main

    body = (
        f"<html lang='en'><head><title>T</title></head><body>"
        f"<nav>{_LINK_FARM}</nav><p>{_ARTICLE}</p></body></html>"
    ).encode()
    p = tmp_path / "crawl.warc"
    p.write_bytes(_response_record("http://ex.org/cli", _http(body)))
    out = tmp_path / "docs"
    # main() getOrCreate()s the fixture session — keep it alive
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    main([
        "--infn", str(p), "--source", "warc", "--out", str(out),
        "--main-content", "--with-meta",
    ])
    r = spark.read.parquet(str(out)).first()
    assert r["title"] == "T" and r["declared_lang"] == "en"
    assert "Home page" not in r["text"]
    assert "ordinary prose" in r["text"]


def test_cli_incompatible_flags_error(tmp_path):
    """Flags belonging to the other --source are rejected, not
    silently ignored (r11 ADVICE): warc-only flags with wet/dump,
    dump-only flags with wet/warc."""
    import pytest

    from wikiextractor_spark.__main__ import main

    cases = [
        ["--infn", "x", "--source", "wet", "--main-content"],
        ["--infn", "x", "--source", "dump", "--with-meta"],
        ["--infn", "x", "--source", "wet", "--parser", "line"],
        ["--infn", "x", "--source", "warc", "--vitalfn", "v"],
        ["--infn", "x", "--source", "wet", "--compress"],
        ["--infn", "x", "--source", "warc", "--incubator", "enm"],
        ["--infn", "x", "--source", "wet", "--max-records-per-file", "5"],
    ]
    for argv in cases:
        with pytest.raises(SystemExit) as exc:
            main(argv)
        assert exc.value.code == 2, argv


def test_cli_max_records_per_file_rejects_non_positive():
    """Spark treats maxRecordsPerFile <= 0 as unlimited, so a value
    below 1 would silently not split the output — a usage error
    (exit 2) before any JVM boots, like --pack and --shards."""
    import pytest

    from wikiextractor_spark.__main__ import main

    for value in ("0", "-3"):
        with pytest.raises(SystemExit) as exc:
            main(["--infn", "x", "--max-records-per-file", value])
        assert exc.value.code == 2, value


def test_cli_incompatible_flag_at_default_value_still_errors():
    """r11 ADVICE: a source-incompatible flag EXPLICITLY supplied at
    its default value must error too — 'supplied' is a sentinel test,
    not a value-vs-default compare."""
    import pytest

    from wikiextractor_spark.__main__ import main

    cases = [
        ["--infn", "x", "--source", "wet", "--parser", "xml"],
        ["--infn", "x", "--source", "warc", "--incubator", ""],
        ["--infn", "x", "--source", "wet", "--vitalfn", ""],
    ]
    for argv in cases:
        with pytest.raises(SystemExit) as exc:
            main(argv)
        assert exc.value.code == 2, argv


def test_cli_scoped_defaults_resolve():
    """Unsupplied source-scoped flags resolve to their documented
    defaults after the sentinel dance, and the policy tuples can
    never desync from the defaults table."""
    from wikiextractor_spark.__main__ import (
        _DOCS_ONLY,
        _DUMP_ONLY,
        _SCOPED_DEFAULTS,
        _WARC_ONLY,
        _resolve_scoped,
        build_parser,
    )

    import wikiextractor_spark.__main__ as cli_mod

    args = build_parser().parse_args(["--infn", "x"])
    supplied = _resolve_scoped(args)
    assert supplied == set()
    assert args.parser == "xml"
    assert args.incubator == ""
    assert args.compress is False
    assert args.vitalfn is None
    assert args.max_records_per_file is None
    assert args.main_content is False
    assert args.with_meta is False
    assert args.tokenize is None
    assert args.shard_seed == ""
    assert set(_WARC_ONLY + _DUMP_ONLY + _DOCS_ONLY) == set(
        _SCOPED_DEFAULTS
    )


def test_cli_sentinel_policy_guard(monkeypatch):
    """A sentinel-defaulted flag missing from the policy tuples would
    leak the raw _UNSET object into args — build_parser fails fast
    instead (r12 review finding)."""
    import pytest

    import wikiextractor_spark.__main__ as cli

    monkeypatch.setattr(cli, "_DUMP_ONLY", cli._DUMP_ONLY[:-1])
    with pytest.raises(AssertionError, match="policy tuples"):
        cli.build_parser()


def test_extract_main_content_is_native(spark):
    df = spark.createDataFrame([("<p>x</p>",)], "html string").select(
        extract_main_content(F.col("html")).alias("t")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_raw_crawl_to_prepare_corpus(spark, tmp_path):
    """The full raw-crawl composition: WARC response bytes →
    warc_html_documents → prepare_corpus runs as one plan and the
    survivors carry markup-free text."""
    from wikiextractor_spark.operators.corpus import prepare_corpus

    body = (
        "<html><body><h1>Title</h1>"
        + "".join(
            f"<p>This paragraph number {i} carries enough ordinary "
            "prose to clear the quality gates without repetition "
            "tricks.</p>"
            for i in range(12)
        )
        + "</body></html>"
    ).encode()
    p = tmp_path / "crawl.warc"
    p.write_bytes(_response_record("http://ok.ex/page", _http(body)))
    docs = warc_html_documents(spark, str(p))
    out = prepare_corpus(docs).collect()
    assert len(out) == 1
    assert "<p>" not in out[0]["text"]
    assert "paragraph number 3" in out[0]["text"]


def test_cli_reverse_policy_guard(monkeypatch):
    """The REVERSE desync (r12 ADVICE): a dest added to the policy
    tuples whose argparse default is NOT the sentinel would make
    _resolve_scoped treat it as always-supplied — every run with the
    other --source would spuriously error.  build_parser fails fast on
    both a non-sentinel default and a dest missing from the parser."""
    import pytest

    import wikiextractor_spark.__main__ as cli

    orig = cli._DUMP_ONLY
    # --source exists but its default is a real value, not _UNSET
    # (r14: --out became the one sentinel-defaulted GLOBAL flag, so
    # it no longer serves as this test's non-sentinel example)
    monkeypatch.setattr(cli, "_DUMP_ONLY", orig + ("source",))
    with pytest.raises(AssertionError, match=r"\['source'\]"):
        cli.build_parser()
    # a policy entry with no parser action at all — patched from the
    # ORIGINAL tuple so this case is pinned independently of 'out'
    monkeypatch.setattr(cli, "_DUMP_ONLY", orig + ("ghost",))
    with pytest.raises(AssertionError, match=r"\['ghost'\]"):
        cli.build_parser()
