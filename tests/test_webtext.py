"""webtext: HTML→text extraction vectors and WARC record framing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from capelinker_spark.operators.webtext import (
    build_warc,
    html_to_text,
    split_http_response,
    split_warc_records,
    warc_to_documents,
)


def _extract(spark, html: str | None) -> str | None:
    df = spark.createDataFrame([(html,)], "html string")
    return df.select(html_to_text(F.col("html")).alias("t")).first()["t"]


class TestHtmlToText:
    def test_basic_structure(self, spark):
        html = "<html><body><h1>Title</h1><p>One two.</p><p>Three.</p></body></html>"
        assert _extract(spark, html) == "Title\nOne two.\nThree."

    def test_script_and_style_dropped_with_content(self, spark):
        # script/style bodies contain bare < and > — they must vanish
        # BEFORE the generic tag strip ever sees them
        html = (
            '<head><style>p > a {x:"a<b"}</style>'
            "<script>if (1 < 2 && x > 0) { go(); }</script></head>"
            "<body><p>kept</p></body>"
        )
        assert _extract(spark, html) == "kept"

    def test_multiline_comment_dropped(self, spark):
        html = "<p>a</p><!-- nav\nmenu\nfooter --><p>b</p>"
        assert _extract(spark, html) == "a\nb"

    def test_br_variants_break_lines(self, spark):
        assert _extract(spark, "x<br>y<br/>z<br />w") == "x\ny\nz\nw"

    def test_entities_decode_after_strip(self, spark):
        # &lt;em&gt; decodes to literal <em> text, never re-parsed as a tag;
        # double-encoded &amp;lt; yields the literal string &lt;
        html = "<p>Fish &amp; chips &lt;em&gt; &quot;q&quot; &#39;s&#39;&nbsp;end &amp;lt;</p>"
        assert (
            _extract(spark, html) == "Fish & chips <em> \"q\" 's' end &lt;"
        )

    def test_whitespace_collapse_and_empty_lines(self, spark):
        html = "<p>  a\t\tb  </p><p>   </p><p>c</p>"
        assert _extract(spark, html) == "a b\nc"

    def test_null_and_empty(self, spark):
        assert _extract(spark, None) is None
        assert _extract(spark, "") == ""
        assert _extract(spark, "<p></p><div></div>") == ""

    def test_plan_is_native(self, spark):
        df = spark.createDataFrame([("<p>x</p>",)], "html string")
        plan = (
            df.select(html_to_text(F.col("html")))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def _http(body: bytes, ctype: str = "text/html") -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: "
        + ctype.encode()
        + b"\r\nContent-Length: "
        + str(len(body)).encode()
        + b"\r\n\r\n"
        + body
    )


def _recs():
    return [
        {
            "type": "warcinfo",
            "uri": None,
            "record_id": "uuid:info",
            "date": "2025-01-01T00:00:00Z",
            "payload": b"software: test",
        },
        {
            "type": "request",
            "uri": "http://a.example/p",
            "record_id": "uuid:req1",
            "date": "2025-01-01T00:00:01Z",
            "payload": b"GET /p HTTP/1.1\r\nHost: a.example\r\n\r\n",
        },
        {
            "type": "response",
            "uri": "http://a.example/p",
            "record_id": "uuid:resp1",
            "date": "2025-01-01T00:00:01Z",
            # payload deliberately contains the record marker bytes:
            # a marker-scanning splitter would cut this record in half
            "payload": _http(b"<p>body with WARC/1.0\r\n\r\nmarker</p>"),
        },
        {
            "type": "response",
            "uri": "http://b.example/q",
            "record_id": "uuid:resp2",
            "date": "2025-01-01T00:00:02Z",
            "payload": _http("<h1>Título</h1>".encode(), "text/html; charset=utf-8"),
        },
        {
            "type": "response",
            "uri": "http://c.example/r",
            "record_id": "uuid:resp3",
            "date": "2025-01-01T00:00:03Z",
            # non-HTTP payload: skipped by warc_to_documents
            "payload": b"not an http response",
        },
    ]


class TestWarcFraming:
    def test_round_trip(self):
        recs = _recs()
        parsed = split_warc_records(build_warc(recs))
        assert len(parsed) == len(recs)
        for want, got in zip(recs, parsed):
            assert got["type"] == want["type"]
            assert got["uri"] == want["uri"]
            assert got["record_id"] == want["record_id"]
            assert got["payload"] == want["payload"]

    def test_content_length_driven_not_marker_scanned(self):
        parsed = split_warc_records(build_warc(_recs()))
        assert b"WARC/1.0\r\n\r\nmarker" in parsed[2]["payload"]

    def test_truncated_payload_raises(self):
        data = build_warc(_recs())
        with pytest.raises(ValueError, match="truncated"):
            split_warc_records(data[:-20])

    def test_bad_marker_raises(self):
        with pytest.raises(ValueError, match="version marker"):
            split_warc_records(b"NOT-A-WARC\r\n\r\n")

    def test_missing_content_length_raises(self):
        blob = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nxx"
        with pytest.raises(ValueError, match="Content-Length"):
            split_warc_records(blob)

    def test_http_split(self):
        status, headers, body = split_http_response(_http(b"<p>x</p>"))
        assert status == 200
        assert headers["content-type"] == "text/html"
        assert body == b"<p>x</p>"
        with pytest.raises(ValueError):
            split_http_response(b"junk")
        with pytest.raises(ValueError, match="status line"):
            split_http_response(b"HTTP/1.1 abc\r\n\r\n")


class TestWarcToDocuments:
    def test_e2e_with_extraction(self, spark):
        # two WARC "files", several records each → documents → html_to_text:
        # the full crawl-bytes → text-table front end in one plan
        f1 = build_warc(_recs())
        f2 = build_warc(
            [
                {
                    "type": "response",
                    "uri": "http://d.example/s",
                    "record_id": "uuid:resp4",
                    "date": "2025-01-02T00:00:00Z",
                    "payload": _http(
                        b"<html><body><h1>Doc4</h1><p>alpha beta</p></body></html>"
                    ),
                }
            ]
        )
        df = spark.createDataFrame(
            [(bytearray(f1),), (bytearray(f2),)], "content binary"
        )
        docs = warc_to_documents(df)
        out = {
            r["record_id"]: r
            for r in docs.withColumn(
                "text", html_to_text(F.col("html"))
            ).collect()
        }
        # warcinfo/request/non-HTTP records skipped; 3 documents survive
        assert set(out) == {"uuid:resp1", "uuid:resp2", "uuid:resp4"}
        assert out["uuid:resp2"]["uri"] == "http://b.example/q"
        assert out["uuid:resp2"]["http_status"] == 200
        assert out["uuid:resp2"]["text"] == "Título"
        assert out["uuid:resp4"]["text"] == "Doc4\nalpha beta"
        assert out["uuid:resp1"]["content_type"] == "text/html"


class TestLinkExtraction:
    BASE = "https://w1.example/d2/page7.html"

    def _links(self, spark, html: str, base: str | None = None):
        from capelinker_spark.operators.webtext import links_from_html

        df = spark.createDataFrame(
            [(1, base or self.BASE, html)], "doc_id long, url string, html string"
        )
        out = links_from_html(df, html_col="html", base_col="url")
        return [r.asDict() for r in out.orderBy("href").collect()]

    def test_resolution_arms(self, spark):
        html = (
            '<a href="https://other.example/x">abs</a>'
            "<a href='/root.html'>root</a>"
            '<a href="rel.html">rel</a>'
            '<a href="//cdn.example/l.js">proto</a>'
            '<a href="#frag">frag</a>'
            '<a href="mailto:a@b.example">mail</a>'
            '<a href="javascript:void(0)">js</a>'
            '<a href="ftp://f.example/a">ftp</a>'
            "<a name=skip>no href</a>"
        )
        rows = {r["href"]: r["link_url"] for r in self._links(spark, html)}
        # fragment/mailto/javascript/ftp dropped; no-href never matched
        assert rows == {
            "https://other.example/x": "https://other.example/x",
            "/root.html": "https://w1.example/root.html",
            "rel.html": "https://w1.example/d2/rel.html",
            "//cdn.example/l.js": "https://cdn.example/l.js",
        }

    def test_anchor_text_markup_stripped(self, spark):
        html = '<a href="/x">A <b>bold</b>\n &amp; &lt;tag&gt;  text</a>'
        (row,) = self._links(spark, html)
        assert row["anchor"] == "A bold & <tag> text"

    def test_relative_against_base_dir_not_full_path(self, spark):
        (row,) = self._links(spark, '<a href="n.html">n</a>')
        assert row["link_url"] == "https://w1.example/d2/n.html"

    def test_no_python_no_shuffle_in_plan(self, spark):
        from capelinker_spark.operators.webtext import links_from_html

        df = spark.createDataFrame(
            [(1, self.BASE, "<a href='/x'>t</a>")],
            "doc_id long, url string, html string",
        )
        plan = links_from_html(df)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "Exchange" not in plan  # map-only: extraction never shuffles

    def test_host_edges_cross_host_distinct(self, spark):
        from capelinker_spark.operators.webtext import host_edges

        links = spark.createDataFrame(
            [
                ("https://a.example/p", "https://b.example/x"),
                ("https://a.example/q", "https://b.example/y"),  # same hosts
                ("https://a.example/p", "https://A.example/self"),  # same host
                ("https://b.example/p", "https://c.example/z"),
            ],
            "base_url string, link_url string",
        )
        edges = {
            (r.src_host, r.dst_host) for r in host_edges(links).collect()
        }
        assert edges == {("a.example", "b.example"), ("b.example", "c.example")}


class TestUrlDedupKeepLatest:
    def test_keep_latest_with_tiebreak_and_count(self, spark):
        from capelinker_spark.operators.urls import dedup_urls_keep_latest

        rows = [
            # one resource, three noisy spellings; newest ts=30 wins
            (1, "HTTP://A.Example.COM:80/p?b=2&a=1#f", 10),
            (2, "http://a.example.com/p?a=1&b=2", 30),
            (3, "http://a.example.com/p?utm_source=x&a=1&b=2", 20),
            # ts tie: min doc_id (4) wins
            (4, "https://b.example/q", 50),
            (5, "https://b.example/q", 50),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string, warc_ts long")
        out = {
            r.doc_id: (r.canon_url, r.n_snapshots)
            for r in dedup_urls_keep_latest(df).collect()
        }
        assert out == {
            2: ("http://a.example.com/p?a=1&b=2", 3),
            4: ("https://b.example/q", 2),
        }

    def test_single_exchange(self, spark):
        from capelinker_spark.operators.urls import dedup_urls_keep_latest

        df = spark.createDataFrame(
            [(1, "https://a.example/p", 10)],
            "doc_id long, url string, warc_ts long",
        )
        plan = (
            dedup_urls_keep_latest(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1


class TestSitemap:
    def test_entries_with_optional_lastmod(self, spark):
        from capelinker_spark.operators.webtext import sitemap_entries

        xml = (
            '<?xml version="1.0"?><urlset>'
            "<url><loc>https://a.example/p1</loc>"
            "<lastmod>2024-01-01</lastmod></url>"
            "<url><loc>\n https://a.example/p2 \n</loc></url>"
            "<url><lastmod>2024-02-02</lastmod></url>"  # no loc: dropped
            "</urlset>"
        )
        df = spark.createDataFrame([(1, xml)], "doc_id long, xml string")
        rows = {
            r.loc: r.lastmod
            for r in sitemap_entries(df, xml_col="xml").collect()
        }
        assert rows == {
            "https://a.example/p1": "2024-01-01",
            "https://a.example/p2": None,
        }


class TestRobots:
    ROBOTS = "\n".join([
        "# rules",
        "User-agent: capebot",
        "Disallow: /private/",
        "Allow: /private/pub*",
        "Disallow: /*.gif$",
        "",
        "User-agent: *",
        "Disallow: /",
    ])

    def _allowed(self, spark, robots_txt, urls, agent="capebot"):
        from capelinker_spark.operators.webtext import (
            parse_robots_rules,
            robots_allowed,
        )

        r = spark.createDataFrame(
            [("a.example", robots_txt)], "host string, robots_txt string"
        )
        u = spark.createDataFrame(
            [(i, f"https://a.example{p}") for i, p in enumerate(urls)],
            "doc_id long, url string",
        )
        rules = parse_robots_rules(r, agent=agent)
        out = robots_allowed(u, rules)
        return {r.url.split(".example", 1)[1]: (r.allowed, r.matched_rule)
                for r in out.collect()}

    def test_agent_group_beats_star_longest_match_wins(self, spark):
        got = self._allowed(
            spark, self.ROBOTS,
            ["/private/doc", "/private/pub/x", "/img/x.gif", "/ok", ""],
        )
        assert got["/private/doc"] == (False, "/private/")
        # allow is longer than the disallow -> least restrictive wins
        assert got["/private/pub/x"] == (True, "/private/pub*")
        assert got["/img/x.gif"] == (False, "/*.gif$")
        assert got["/ok"] == (True, None)
        assert got[""] == (True, None)  # '' matched as '/'

    def test_star_group_applies_to_unknown_agent(self, spark):
        got = self._allowed(
            spark, self.ROBOTS, ["/anything"], agent="strangerbot"
        )
        assert got["/anything"] == (False, "/")

    def test_anchor_matches_exact_end_only(self, spark):
        txt = "User-agent: *\nDisallow: /p$\n"
        got = self._allowed(spark, txt, ["/p", "/p/x", "/pq"])
        assert got["/p"] == (False, "/p$")
        assert got["/p/x"] == (True, None)
        assert got["/pq"] == (True, None)

    def test_empty_disallow_and_no_rules_host(self, spark):
        got = self._allowed(
            spark, "User-agent: capebot\nDisallow:\n", ["/x"]
        )
        assert got["/x"] == (True, None)

    def test_like_metachars_in_rule_are_literal(self, spark):
        txt = "User-agent: *\nDisallow: /a%b_\n"
        got = self._allowed(spark, txt, ["/a%b_c", "/aXb_c", "/a%bXc"])
        assert got["/a%b_c"] == (False, "/a%b_")
        assert got["/aXb_c"] == (True, None)   # % is literal, not LIKE-any
        assert got["/a%bXc"] == (True, None)   # _ is literal, not LIKE-one


class TestReviewFixesSession5:
    def test_robots_cr_only_line_endings(self, spark):
        # RFC 9309 allows bare-CR terminators; a CR-only file must parse
        from capelinker_spark.operators.webtext import (
            parse_robots_rules,
            robots_allowed,
        )

        r = spark.createDataFrame(
            [("a.example", "User-agent: *\rDisallow: /private/\r")],
            "host string, robots_txt string",
        )
        u = spark.createDataFrame(
            [(1, "https://a.example/private/x")], "doc_id long, url string"
        )
        (row,) = robots_allowed(u, parse_robots_rules(r)).collect()
        assert row.allowed is False and row.matched_rule == "/private/"

    def test_url_host_excludes_userinfo_and_port(self, spark):
        from capelinker_spark.operators.webtext import url_host

        df = spark.createDataFrame(
            [("https://alice@Example.COM/p",),
             ("https://u:p@example.com:8443/x",),
             ("https://plain.example/x",)],
            "u string",
        )
        got = [r.h for r in df.select(url_host(F.col("u")).alias("h")).collect()]
        assert got == ["example.com", "example.com", "plain.example"]

    def test_resolve_href_pathless_base(self, spark):
        from capelinker_spark.operators.webtext import resolve_href

        df = spark.createDataFrame(
            [("https://example.com", "about.html")], "base string, h string"
        )
        (row,) = df.select(
            resolve_href(F.col("base"), F.col("h")).alias("r")
        ).collect()
        assert row.r == "https://example.com/about.html"

    @pytest.mark.parametrize(
        "base, want",
        [
            ("https://a.com/d/p?x=a/b", "https://a.com/d/i.png"),
            ("https://a.com?q=/x", "https://a.com/i.png"),
            ("https://a.com/d/p#s/t", "https://a.com/d/i.png"),
        ],
    )
    def test_resolve_href_slash_in_query_or_fragment(self, spark, base, want):
        """A '/' in the base's query or fragment is not a path separator,
        on the Spark column and on its DuckDB oracle mirror alike."""
        import duckdb

        from capelinker_spark.operators.webtext import (
            resolve_href,
            resolve_href_sql,
        )

        df = spark.createDataFrame([(base, "i.png")], "base string, h string")
        (row,) = df.select(
            resolve_href(F.col("base"), F.col("h")).alias("r")
        ).collect()
        assert row.r == want
        (sql,) = duckdb.sql(
            f"SELECT {resolve_href_sql('b', 'h')} FROM "
            f"(SELECT '{base}' AS b, 'i.png' AS h)"
        ).fetchone()
        assert sql == want

    def test_unquoted_href_extracted(self, spark):
        from capelinker_spark.operators.webtext import links_from_html

        df = spark.createDataFrame(
            [(1, "https://a.example/d/p.html",
              "<a href=/u/1 rel=nofollow>unq</a><a href=rel2>r</a>")],
            "doc_id long, url string, html string",
        )
        got = {r.href: r.link_url for r in links_from_html(df).collect()}
        assert got == {
            "/u/1": "https://a.example/u/1",
            "rel2": "https://a.example/d/rel2",
        }

    def test_robots_allowed_passes_through_columns(self, spark):
        from capelinker_spark.operators.webtext import (
            parse_robots_rules,
            robots_allowed,
        )

        r = spark.createDataFrame(
            [("a.example", "User-agent: *\nDisallow: /x/\n")],
            "host string, robots_txt string",
        )
        u = spark.createDataFrame(
            [(1, "https://a.example/x/p", 777)],
            "doc_id long, url string, warc_ts long",
        )
        (row,) = robots_allowed(u, parse_robots_rules(r)).collect()
        assert row.warc_ts == 777 and row.allowed is False


def test_crawl_end_to_end(spark, tmp_path):
    """The full crawl front end over real bytes: build_warc(HTTP
    responses with planted HTML) → warc_to_documents (Arrow mapInPandas)
    → html_to_text → links_from_html → host_edges → pagerank. Every seam
    crossed with actual data, no mocks."""
    from capelinker_spark.operators.cluster import pagerank
    from capelinker_spark.operators.webtext import (
        build_warc,
        extract_html,
        host_edges,
        links_from_html,
        warc_to_documents,
    )

    def page(host, path, body_html):
        payload = (
            b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n\r\n"
            + body_html.encode()
        )
        return {
            "type": "response",
            "uri": f"https://{host}{path}",
            "record_id": f"id-{host}{path}",
            "date": "2025-06-01T00:00:00Z",
            "payload": payload,
        }

    warc = build_warc([
        page("a.example", "/p1.html",
             "<html><body><h1>Alpha</h1>"
             '<p>go <a href="https://b.example/x">to B</a></p></body></html>'),
        page("b.example", "/x",
             '<p>back <a href="//a.example/p1.html">to A</a>'
             '<a href="/y">self</a></p>'),
        {"type": "request", "uri": None, "record_id": "req-1",
         "date": "2025-06-01T00:00:00Z", "payload": b"GET / HTTP/1.1\r\n"},
    ])
    blob = spark.createDataFrame([(bytearray(warc),)], "content binary")
    docs = warc_to_documents(blob)
    docs = extract_html(docs, html_col="html", out_col="text")
    got = {r.uri: r.text for r in docs.collect()}
    assert got["https://a.example/p1.html"] == "Alpha\ngo to B"
    assert got["https://b.example/x"] == "back to Aself"

    links = links_from_html(
        docs.withColumnRenamed("uri", "url"), html_col="html",
        base_col="url", keep_cols=("record_id",),
    )
    edges = host_edges(links, base_col="base_url")
    pr = pagerank(edges, src="src_host", dst="dst_host", iterations=2)
    nodes = {r.node for r in pr.collect()}
    assert nodes == {"a.example", "b.example"}


class TestPageIndexHints:
    def test_both_orders_resolution_and_directives(self, spark):
        from capelinker_spark.operators.webtext import page_index_hints

        rows = [
            (1, "https://a.example/d/p.html",
             '<link rel="canonical" href="/c/1"><meta name=robots '
             'content="NOINDEX, nofollow">'),
            (2, "https://a.example/d/p.html",
             "<link href='https://b.example/x' rel=canonical>"),
            (3, "https://a.example/d/p.html",
             '<link rel="canonical" href="#top">'),       # unresolvable
            (4, "https://a.example/d/p.html", "<p>none</p>"),
            # first declaration wins when duplicated
            (5, "https://a.example/d/p.html",
             '<link rel="canonical" href="/first">'
             '<link rel="canonical" href="/second">'),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string, html string")
        got = {r.doc_id: (r.canonical_url, r.noindex, r.nofollow)
               for r in page_index_hints(df).collect()}
        assert got[1] == ("https://a.example/c/1", True, True)
        assert got[2] == ("https://b.example/x", False, False)
        assert got[3] == (None, False, False)
        assert got[4] == (None, False, False)
        assert got[5][0] == "https://a.example/first"

    def test_boundary_exact_and_token_list(self, spark):
        # review regression: prefix look-alikes must NOT match; rel is
        # an HTML5 token LIST; data-href must not read as href
        from capelinker_spark.operators.webtext import page_index_hints

        rows = [
            (1, "https://a.example/p",
             '<link rel="canonicalfoo" href="/no">'
             '<meta name=robots2 content="noindex">'),
            (2, "https://a.example/p",
             '<link rel="alternate canonical" href="/yes">'),
            (3, "https://a.example/p",
             '<link rel=canonical data-href="/wrong" href="/right">'),
            (4, "https://a.example/p",
             '<meta name="robots-override" content="noindex">'),
        ]
        df = spark.createDataFrame(rows, "doc_id long, url string, html string")
        got = {r.doc_id: (r.canonical_url, r.noindex)
               for r in page_index_hints(df).collect()}
        assert got[1] == (None, False)
        assert got[2] == ("https://a.example/yes", False)
        assert got[3][0] == "https://a.example/right"
        assert got[4] == (None, False)
