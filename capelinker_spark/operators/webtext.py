"""Webtext ingestion: HTML-to-text extraction and WARC record parsing.

The reference package links person records (rijpma/capelinker R/*.R); a
web-scale corpus pipeline additionally has to get from crawled bytes to
the ``documents``-shaped text table every downstream operator (dedup,
quality, curation) consumes.  This module supplies that front end:

* :func:`html_to_text` — tag/script/comment stripping, a fixed entity
  table, and line-structure normalization, ALL native column expressions
  (regexp_replace / replace / split / higher-order lambdas), portable to
  an ANSI-SQL oracle byte-for-byte.  It is a regexp extractor, not an
  HTML5 parser: attribute values containing a literal ``>`` and CDATA
  sections are out of scope (documented), which matches the
  boilerplate-strip tier of public corpus recipes (C4 strips tags the
  same way before line filtering).
* WARC: :func:`split_warc_records` / :func:`build_warc` — a pure-bytes
  splitter/writer pair for the ISO 28500 record framing used by Common
  Crawl, plus :func:`warc_to_documents`, the distributed Arrow tier
  (``mapInPandas`` over a binary column, one pass, no driver collect).
  Two tiers: the byte-format walker is plain Python verified by
  round-trip pytest, the Spark seam is schema-stable and batch-shaped
  for 100-TB scan fan-out.

Regex-dialect rules honored (engine-wide conventions, see
``textstats.WS_SPLIT``): no ``\\s``, no backreferences (RE2 lacks them —
script/style alternation is spelled out), no bare ``$`` after content
that can end in ``\\r``; inline ``(?is)`` flags only, which Java regex
and RE2 share.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# HTML → text
# ---------------------------------------------------------------------------

# script/style elements drop with their CONTENT (their bodies are code,
# and legitimately contain bare '<' / '>' that the generic tag strip
# must never see).  RE2 has no backreferences, so the close tag is
# spelled per element instead of </\1>.
HTML_DROP_BLOCKS = (
    "(?is)<script\\b[^>]*>.*?</script[ \\t]*>"
    "|<style\\b[^>]*>.*?</style[ \\t]*>"
)
HTML_COMMENT = "(?s)<!--.*?-->"
# Block-level closers and <br> become newlines BEFORE the generic strip,
# so paragraph structure survives as line structure.
HTML_BREAKS = "(?i)<br[ \\t]*/?[ \\t]*>|</(p|div|h[1-6]|li|tr|ul|ol|table|blockquote)[ \\t]*>"
HTML_TAG = "<[^>]*>"
# Fixed entity table, decoded AFTER tag stripping (the '<' produced by
# &lt; is text, never re-parsed as markup).  '&amp;' decodes LAST so
# double-encoded '&amp;lt;' yields the literal text '&lt;'.
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def html_to_text(col: Column) -> Column:
    """Extract readable text from an HTML string column.

    Pipeline (each step a native expression; zero Python in the plan):
    drop script/style with content → drop comments → block closers and
    <br> to '\\n' → strip remaining tags → decode the fixed entity
    table ('&amp;' last) → collapse space/tab runs → trim every line,
    drop empty lines, rejoin with '\\n' (LF-normalized).  NULL html →
    NULL out.  Mirrored token-for-token by the ts11 DuckDB oracle."""
    t = F.regexp_replace(col, HTML_DROP_BLOCKS, "")
    t = F.regexp_replace(t, HTML_COMMENT, "")
    t = F.regexp_replace(t, HTML_BREAKS, "\n")
    t = F.regexp_replace(t, HTML_TAG, "")
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, "[ \\t]+", " ")
    lines = F.split(t, "\r*\n")
    kept = F.filter(
        F.transform(lines, lambda x: F.trim(x)), lambda x: x != ""
    )
    return F.array_join(kept, "\n")


def extract_html(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Column-level convenience wrapper: df + ``out_col`` extracted from
    ``html_col``.  Narrow (no shuffle); composes with CurationPipeline's
    cleaned stage as the step before quality scoring."""
    return df.withColumn(out_col, html_to_text(F.col(html_col)))


# ---------------------------------------------------------------------------
# Link extraction (HTML anchors → resolved URLs + anchor text)
# ---------------------------------------------------------------------------

# One pattern, two capture groups: (1) the QUOTED href value (either
# quote style; the quotes are stripped afterwards so a single
# regexp_extract_all group index suffices on both engines), (2) the
# anchor body up to the close tag (non-greedy; RE2 and Java agree).
# <a> elements without an href (pure anchors) never match.
HTML_ANCHOR = (
    "(?is)<a\\b[^>]*\\bhref[ \\t]*=[ \\t]*"
    "(\"[^\"]*\"|'[^']*'|[^ \\t\\r\\n>'\"][^ \\t\\r\\n>]*)[^>]*>(.*?)</a[ \\t]*>"
)
# Absolute http(s) reference / any-scheme reference classifiers for
# RFC 3986-lite resolution (see resolve_href).
_ABS_HTTP = "(?i)^https?://"
_ANY_SCHEME = "(?i)^[a-z][a-z0-9+.-]*:"
_ORIGIN_RE = "(?i)^(https?://[^/?#]*)"
_BASE_SCHEME_RE = "(?i)^(https?):"
# base directory = text up to the last '/' BEFORE any query or fragment:
# a '/' inside '?…' or '#…' is data, not a path separator
_BASE_DIR_RE = "^([^?#]*/)"
# host = authority after the LAST '@' (userinfo excluded — greedy
# [^/?#]*@ cannot cross the path), before any ':' port
_HOST_OF_URL_RE = "(?i)^https?://(?:[^/?#]*@)?([^/:?#]*)"


def anchor_parts(col: Column) -> tuple[Column, Column]:
    """(hrefs, bodies) — two equal-length arrays from one anchor scan.
    Quotes are still on the hrefs; strip with ``_unquote``."""
    return (
        F.regexp_extract_all(col, F.lit(HTML_ANCHOR), F.lit(1)),
        F.regexp_extract_all(col, F.lit(HTML_ANCHOR), F.lit(2)),
    )


def _unquote(h: Column) -> Column:
    """Drop the surrounding quote pair captured by HTML_ANCHOR; unquoted
    (HTML5-legal) href values pass through as written."""
    quoted = h.startswith('"') | h.startswith("'")
    return F.when(quoted, h.substr(F.lit(2), F.length(h) - 2)).otherwise(h)


def strip_markup(col: Column) -> Column:
    """Anchor-text cleanup: strip nested tags, decode the fixed entity
    table, collapse ALL whitespace runs (including line breaks — anchor
    text is single-line by definition) to one space, trim.  Mirrored
    step-for-step by strip_markup_sql."""
    t = F.regexp_replace(col, HTML_TAG, "")
    for ent, ch in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, "[ \\t\\r\\n]+", " "))


def strip_markup_sql(c: str) -> str:
    """ANSI/DuckDB mirror of strip_markup over expression ``c``."""
    t = f"regexp_replace({c}, '{HTML_TAG}', '', 'g')"
    for ent, ch in HTML_ENTITIES:
        lit = ch.replace("'", "''")
        t = f"replace({t}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({t}, '[ \\t\\r\\n]+', ' ', 'g'))"


def resolve_href(base: Column, href: Column) -> Column:
    """RFC 3986-lite reference resolution of ``href`` against absolute
    http(s) base URL ``base``, returning NULL for links a corpus
    pipeline drops (fragments, empty hrefs, non-http(s) schemes such as
    mailto:/javascript:/ftp:):

    * absolute ``http(s)://…`` — kept verbatim;
    * any OTHER scheme — NULL (the crawl frontier is http(s)-only);
    * protocol-relative ``//host/…`` — base scheme prepended;
    * root-relative ``/path`` — base origin prepended;
    * fragment-only / empty — NULL (same document);
    * everything else — relative: base directory (text up to the last
      ``/`` of the base's path, ignoring any query or fragment)
      prepended.

    Documented deviations from full RFC 3986 (extraction-tier scope,
    same stance as html_to_text vs an HTML5 parser): dot-segments
    (``../``) are NOT collapsed — downstream URL normalization owns
    canonical form — and a query-only reference (``?q=…``) resolves
    against the base DIRECTORY rather than the full base path.
    Precondition: ``base`` is absolute http(s) with a path (a crawl
    record's WARC-Target-URI always is)."""
    scheme = F.lower(F.regexp_extract(base, _BASE_SCHEME_RE, 1))
    origin = F.regexp_extract(base, _ORIGIN_RE, 1)
    basedir = F.regexp_extract(base, _BASE_DIR_RE, 1)
    # a path-less base ('https://example.com') captures only 'https://'
    # as its "directory" — RFC 3986 5.3 merges a relative reference
    # against '/' then, so fall back whenever the captured dir does not
    # extend past the origin
    basedir = F.when(
        F.length(basedir) <= F.length(origin),
        F.concat(origin, F.lit("/")),
    ).otherwise(basedir)
    return (
        F.when(href.rlike(_ABS_HTTP), href)
        .when(href.rlike(_ANY_SCHEME), F.lit(None).cast("string"))
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when(
            href.startswith("#") | (F.length(href) == 0),
            F.lit(None).cast("string"),
        )
        .otherwise(F.concat(basedir, href))
    )


def resolve_href_sql(base: str, href: str) -> str:
    """ANSI/DuckDB mirror of resolve_href (expressions, not columns)."""
    return f"""CASE
        WHEN regexp_matches({href}, '{_ABS_HTTP}') THEN {href}
        WHEN regexp_matches({href}, '{_ANY_SCHEME}') THEN NULL
        WHEN {href} LIKE '//%'
          THEN lower(regexp_extract({base}, '{_BASE_SCHEME_RE}', 1))
               || ':' || {href}
        WHEN {href} LIKE '/%'
          THEN regexp_extract({base}, '{_ORIGIN_RE}', 1) || {href}
        WHEN {href} LIKE '#%' OR {href} = '' THEN NULL
        ELSE CASE WHEN length(regexp_extract({base}, '{_BASE_DIR_RE}', 1))
                       <= length(regexp_extract({base}, '{_ORIGIN_RE}', 1))
                  THEN regexp_extract({base}, '{_ORIGIN_RE}', 1) || '/'
                  ELSE regexp_extract({base}, '{_BASE_DIR_RE}', 1) END
             || {href}
      END"""


def url_host(col: Column) -> Column:
    """Lowercased host (no port) of an absolute http(s) URL — the node
    id of the host-level web graph.  Empty string for non-URL input."""
    return F.lower(F.regexp_extract(col, _HOST_OF_URL_RE, 1))


def links_from_html(
    df: DataFrame,
    html_col: str = "html",
    base_col: str = "url",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """The web-graph front end: one anchor scan per document → one row
    per out-link with (href as written, resolved absolute link_url,
    cleaned anchor text).  Dropped links (fragments, mailto:/javascript:
    etc.) are filtered out.

    Plan shape: entirely narrow — regexp_extract_all with group 1 and
    group 2 over the same pattern (two automaton passes per page — both
    linear and fused into the SAME whole-stage-codegen Generate, cheaper
    than any struct-rebuilding workaround), arrays_zip + explode, then
    per-link scalar expressions.  Zero Python, zero shuffles: at 100 TB
    link extraction is a map-only pass over the crawl partitioning, and
    the host-graph aggregation downstream is the first exchange."""
    hrefs, bodies = anchor_parts(F.col(html_col))
    z = df.select(
        *keep_cols,
        F.col(base_col).alias("_base"),
        F.explode(F.arrays_zip(hrefs.alias("h"), bodies.alias("b"))).alias(
            "_a"
        ),
    )
    href = _unquote(F.col("_a.h"))
    return (
        z.select(
            *keep_cols,
            F.col("_base").alias("base_url"),
            href.alias("href"),
            resolve_href(F.col("_base"), href).alias("link_url"),
            strip_markup(F.col("_a.b")).alias("anchor"),
        )
        .where(F.col("link_url").isNotNull())
    )


def host_edges(links: DataFrame, base_col: str = "base_url") -> DataFrame:
    """Distinct cross-host (src_host, dst_host) edges from a link table
    carrying the source page URL — the host-level web graph consumed by
    pagerank/hits (the classic crawl-prioritization signal).  Same-host
    navigation links are dropped (they are site structure, not
    endorsement).  ONE hash-agg shuffle (distinct) over the narrow
    2-column projection."""
    return (
        links.select(
            url_host(F.col(base_col)).alias("src_host"),
            url_host(F.col("link_url")).alias("dst_host"),
        )
        .where(
            (F.col("src_host") != F.col("dst_host"))
            & (F.col("dst_host") != "")
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# WARC record framing (ISO 28500; the Common Crawl container)
# ---------------------------------------------------------------------------

_CRLF = b"\r\n"
_SEP = b"\r\n\r\n"


def build_warc(records: Iterable[dict]) -> bytes:
    """Serialize records to WARC/1.0 bytes.  Each record dict:
    ``{"type": "response", "uri": str|None, "record_id": str,
    "date": str, "payload": bytes, "extra": dict[str,str]|None}``.
    Framing per the spec: named headers + Content-Length, blank line,
    payload, TWO CRLFs between records.  The writer exists so the
    splitter can be round-trip-tested without fixture files on disk."""
    out = bytearray()
    for r in records:
        payload = r["payload"]
        headers = [
            b"WARC/1.0",
            b"WARC-Type: " + r.get("type", "response").encode(),
            b"WARC-Record-ID: <" + r["record_id"].encode() + b">",
            b"WARC-Date: " + r.get("date", "2025-01-01T00:00:00Z").encode(),
        ]
        if r.get("uri") is not None:
            headers.append(b"WARC-Target-URI: " + r["uri"].encode())
        for k, v in (r.get("extra") or {}).items():
            headers.append(k.encode() + b": " + v.encode())
        headers.append(b"Content-Length: " + str(len(payload)).encode())
        out += _CRLF.join(headers) + _SEP + payload + _SEP
    return bytes(out)


def split_warc_records(data: bytes) -> list[dict]:
    """Walk WARC bytes into records: ``{"type", "uri", "record_id",
    "date", "headers": dict, "payload": bytes}``.  Content-Length-driven
    (payload may contain 'WARC/1.0' bytes — never split by marker
    scanning), tolerant of trailing garbage shorter than a header;
    raises ValueError on a malformed header block or a truncated
    payload, so a corrupt capture never yields a silent partial record."""
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        if not data.startswith(b"WARC/", pos):
            raise ValueError(
                f"expected WARC version marker at byte {pos}"
            )
        head_end = data.find(_SEP, pos)
        if head_end < 0:
            raise ValueError("unterminated WARC header block")
        head_lines = data[pos:head_end].split(_CRLF)
        headers: dict[str, str] = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(b":")
            if not _:
                raise ValueError(f"malformed WARC header line: {line!r}")
            headers[k.strip().decode()] = v.strip().decode()
        try:
            length = int(headers["Content-Length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record missing valid Content-Length")
        body_start = head_end + len(_SEP)
        if body_start + length > n:
            raise ValueError("truncated WARC payload")
        rid = headers.get("WARC-Record-ID", "").strip("<>")
        records.append(
            {
                "type": headers.get("WARC-Type", ""),
                "uri": headers.get("WARC-Target-URI"),
                "record_id": rid,
                "date": headers.get("WARC-Date", ""),
                "headers": headers,
                "payload": data[body_start : body_start + length],
            }
        )
        pos = body_start + length
    return records


def split_http_response(payload: bytes) -> tuple[int, dict, bytes]:
    """Split an HTTP/1.x response payload (the body of a WARC *response*
    record) into (status, headers, body).  Raises ValueError when the
    payload is not HTTP-shaped — callers route non-response records
    around it."""
    sep = payload.find(_SEP)
    if sep < 0 or not payload.startswith(b"HTTP/"):
        raise ValueError("payload is not an HTTP/1.x response")
    lines = payload[:sep].split(_CRLF)
    parts = lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[1].isdigit():
        raise ValueError(f"malformed HTTP status line: {lines[0]!r}")
    status = int(parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        if _:
            headers[k.strip().decode().lower()] = v.strip().decode()
    return status, headers, payload[sep + len(_SEP) :]


_WARC_DOC_SCHEMA = T.StructType(
    [
        T.StructField("record_id", T.StringType()),
        T.StructField("uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("html", T.StringType()),
    ]
)


def warc_to_documents(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Distributed WARC → document rows: ``mapInPandas`` over a binary
    column of WARC files (e.g. ``spark.read.format('binaryFile')``),
    one Arrow batch pass per file, emitting one row per *response*
    record with an HTTP payload (status, content-type, decoded body;
    non-response records and non-HTTP payloads are skipped — request /
    metadata records carry no document text).  Bodies decode as UTF-8
    with replacement (crawl reality).  The splitter is Content-Length-
    driven, so a 1-GiB WARC costs one linear walk; at 100 TB the unit of
    parallelism is the WARC file, exactly how Common Crawl shards."""

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for blob in pdf[content_col]:
                for rec in split_warc_records(bytes(blob)):
                    if rec["type"] != "response":
                        continue
                    try:
                        status, hdrs, body = split_http_response(
                            rec["payload"]
                        )
                    except ValueError:
                        continue
                    rows.append(
                        (
                            rec["record_id"],
                            rec["uri"],
                            rec["date"],
                            status,
                            hdrs.get("content-type", ""),
                            body.decode("utf-8", "replace"),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _WARC_DOC_SCHEMA.fields]
            )

    return df.mapInPandas(gen, _WARC_DOC_SCHEMA)


# ---------------------------------------------------------------------------
# Sitemap XML (the crawl-frontier seed list)
# ---------------------------------------------------------------------------

# One <url> entry block; loc/lastmod extracted PER BLOCK so optional
# fields can't positionally misalign (the reason this is two-level
# instead of zipping two extract_alls like the anchor scan).
SITEMAP_URL_BLOCK = "(?is)<url>(.*?)</url>"
SITEMAP_LOC = "(?is)<loc>[ \\t\\r\\n]*(.*?)[ \\t\\r\\n]*</loc>"
SITEMAP_LASTMOD = "(?is)<lastmod>[ \\t\\r\\n]*(.*?)[ \\t\\r\\n]*</lastmod>"


def sitemap_entries(
    df: DataFrame, xml_col: str = "xml", keep_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Parse sitemap XML (sitemaps.org protocol) into one row per
    ``<url>`` entry: ``loc`` (required; entries without one are
    dropped) and ``lastmod`` (optional; NULL when absent — the
    freshness signal the recrawl scheduler joins against dd13's
    snapshot history).  Regexp tier, not an XML parser (same stance as
    html_to_text): CDATA and entity-encoded locs pass through as
    written.  Map-only — explode the entry blocks, extract fields per
    block, zero Python, zero shuffles."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(SITEMAP_URL_BLOCK), F.lit(1)
    )
    b = df.select(*keep_cols, F.explode(blocks).alias("_blk"))
    loc = F.regexp_extract(F.col("_blk"), SITEMAP_LOC, 1)
    lastmod = F.regexp_extract(F.col("_blk"), SITEMAP_LASTMOD, 1)
    return (
        b.select(
            *keep_cols,
            loc.alias("loc"),
            F.when(lastmod == "", F.lit(None).cast("string"))
            .otherwise(lastmod)
            .alias("lastmod"),
        )
        .where(F.col("loc") != "")
    )


# ---------------------------------------------------------------------------
# robots.txt (RFC 9309 — crawl politeness; the frontier's allow filter)
# ---------------------------------------------------------------------------

# RFC 9309 allows CR, LF, and CRLF line terminators; splitting on all
# three also guarantees no line retains a '\r', so the $ in
# ROBOTS_TRIM_RE never sees one (the engine-wide bare-$ convention).
ROBOTS_LINE_SPLIT = "\r\n|\r|\n"
ROBOTS_UA_RE = "(?i)^user-agent[ \\t]*:"
ROBOTS_UA_VAL_RE = "(?i)^user-agent[ \\t]*:[ \\t]*([^ \\t]*)"
ROBOTS_RULE_RE = "(?i)^(allow|disallow)[ \\t]*:[ \\t]*([^ \\t]*)"
ROBOTS_COMMENT_RE = "#.*"
ROBOTS_TRIM_RE = "^[ \\t]+|[ \\t]+$"
_ROBOTS_PATH_RE = "(?i)^https?://[^/?#]*([^#]*)"


def _robots_like_pattern(rpath: Column) -> Column:
    """Translate an RFC 9309 rule path to a SQL LIKE pattern with escape
    char ``!``: literal ``%``/``_``/``!`` escaped, REP ``*`` → ``%``, a
    trailing ``$`` anchors (no trailing ``%``), otherwise prefix match.
    LIKE (one linear scan, identical semantics on Spark and DuckDB with
    an explicit ESCAPE) replaces per-row regex compilation — the cheap
    path for a matcher that runs once per (url, rule) pair."""
    esc = F.replace(rpath, F.lit("!"), F.lit("!!"))
    esc = F.replace(esc, F.lit("%"), F.lit("!%"))
    esc = F.replace(esc, F.lit("_"), F.lit("!_"))
    anchored = rpath.endswith("$")
    body = F.when(anchored, esc.substr(F.lit(1), F.length(esc) - 1)).otherwise(
        esc
    )
    body = F.replace(body, F.lit("*"), F.lit("%"))
    return F.when(anchored, body).otherwise(F.concat(body, F.lit("%")))


def parse_robots_rules(
    df: DataFrame,
    host_col: str = "host",
    robots_col: str = "robots_txt",
    agent: str = "capebot",
) -> DataFrame:
    """Parse robots.txt bodies into the effective rule table for
    ``agent`` per RFC 9309: lines split CRLF-safely, comments stripped,
    groups formed at each user-agent line that follows a non-user-agent
    line (consecutive UA lines share a group; blank lines are
    irrelevant), and the MOST SPECIFIC user-agent wins — if any group
    names ``agent`` literally, exactly the groups naming it apply
    (merged, the RFC group-combination rule); otherwise the ``*``
    groups; otherwise no rules (everything allowed downstream).  Empty
    rule paths are skipped (an empty Disallow allows everything).

    Returns (host, allow boolean, rpath, rlen, like_pat) — ``like_pat``
    is the precompiled LIKE translation used by :func:`robots_allowed`.

    Plan: posexplode of lines, then lag + running-sum + group/host
    flag windows ALL on the same hashpartitioning(host) ordering — one
    exchange over the line table, no Python."""
    from pyspark.sql import Window

    agent_l = agent.lower()
    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(robots_col), ROBOTS_LINE_SPLIT)).alias(
            "_pos", "_raw"
        ),
    )
    l = F.regexp_replace(F.col("_raw"), ROBOTS_COMMENT_RE, "")
    l = F.regexp_replace(l, ROBOTS_TRIM_RE, "")
    w_host = Window.partitionBy("host").orderBy("_pos")
    t = lines.select(
        "host",
        "_pos",
        l.alias("_l"),
        l.rlike(ROBOTS_UA_RE).cast("int").alias("_ua"),
    )
    t = t.withColumn(
        "_new_grp",
        (
            (F.col("_ua") == 1)
            & (F.coalesce(F.lag("_ua", 1).over(w_host), F.lit(0)) == 0)
        ).cast("int"),
    ).withColumn("_grp", F.sum("_new_grp").over(w_host))
    ua_val = F.lower(F.regexp_extract(F.col("_l"), ROBOTS_UA_VAL_RE, 1))
    t = t.withColumn(
        "_m_agent",
        ((F.col("_ua") == 1) & (ua_val == agent_l)).cast("int"),
    ).withColumn(
        "_m_star", ((F.col("_ua") == 1) & (ua_val == "*")).cast("int")
    )
    w_grp = Window.partitionBy("host", "_grp")
    w_all = Window.partitionBy("host")
    t = (
        t.withColumn("_g_agent", F.max("_m_agent").over(w_grp))
        .withColumn("_g_star", F.max("_m_star").over(w_grp))
        .withColumn("_h_agent", F.max("_m_agent").over(w_all))
    )
    selected = (
        (F.col("_h_agent") == 1) & (F.col("_g_agent") == 1)
    ) | ((F.col("_h_agent") == 0) & (F.col("_g_star") == 1))
    verb = F.lower(F.regexp_extract(F.col("_l"), ROBOTS_RULE_RE, 1))
    rpath = F.regexp_extract(F.col("_l"), ROBOTS_RULE_RE, 2)
    return (
        t.where(selected)
        .select(
            "host",
            verb.alias("_verb"),
            rpath.alias("rpath"),
        )
        .where((F.col("_verb") != "") & (F.col("rpath") != ""))
        .select(
            "host",
            (F.col("_verb") == "allow").alias("allow"),
            "rpath",
            F.length("rpath").alias("rlen"),
            _robots_like_pattern(F.col("rpath")).alias("like_pat"),
        )
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Evaluate RFC 9309 access per URL against a parsed rule table
    (:func:`parse_robots_rules`): the LONGEST matching rule path wins,
    ties prefer Allow (the least-restrictive RFC rule, final tie-break
    lexicographic on the path for full determinism under any
    partitioning); a URL with no matching rule — or a host with no
    rules at all — is allowed.  Matching is against path+query
    (fragment excluded), '' → '/'.

    Returns ``urls`` + (allowed boolean, matched_rule string — NULL
    when nothing matched).

    Plan: one equi-join on host (rule tables are tiny per host —
    broadcast in practice), the per-URL argmax window; match flags and
    rule lengths are int-coalesced so ORDER BY needs no NULL-ordering
    dialect agreement."""
    from pyspark.sql import Window

    path = F.regexp_extract(F.col(url_col), _ROBOTS_PATH_RE, 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    u = urls.withColumn("_host", url_host(F.col(url_col))).withColumn(
        "_path", path
    )
    j = u.join(rules, u["_host"] == rules["host"], "left")
    m = (
        F.when(
            F.col("like_pat").isNotNull(),
            F.like(F.col("_path"), F.col("like_pat"), F.lit("!")),
        )
        .otherwise(F.lit(False))
        .cast("int")
    )
    j = (
        j.withColumn("_m", m)
        .withColumn("_rlen0", F.coalesce(F.col("rlen"), F.lit(-1)))
        .withColumn(
            "_al0", F.coalesce(F.col("allow").cast("int"), F.lit(0))
        )
    )
    w = Window.partitionBy(*[u[c] for c in id_cols]).orderBy(
        F.col("_m").desc(),
        F.col("_rlen0").desc(),
        F.col("_al0").desc(),
        F.col("rpath").asc(),
    )
    best = j.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") == 1
    )
    return best.select(
        *[u[c] for c in urls.columns],
        F.when(F.col("_m") == 1, F.col("allow"))
        .otherwise(F.lit(True))
        .alias("allowed"),
        F.when(F.col("_m") == 1, F.col("rpath")).alias("matched_rule"),
    )


# ---------------------------------------------------------------------------
# In-page indexing hints: rel=canonical and meta robots
# ---------------------------------------------------------------------------

# Tag-level extraction + attribute-value EQUALITY instead of one big
# attribute-order regex: the naive `rel=["']?canonical["']?` form
# prefix-matched unrelated values (rel=canonicalfoo, name=robots2 —
# review find, session 5). A tag list is extracted first, then the
# attribute value is parsed per tag (quoted either way or an unquoted
# HTML5 token) and compared as a whole token, so boundaries are exact
# by construction and attribute order is irrelevant.
HTML_LINK_TAG = "(?is)<link\\b[^>]*>"
HTML_META_TAG = "(?is)<meta\\b[^>]*>"
# attribute name must not be preceded by a word-ish char (data-href
# must not match href; \b alone passes the '-' boundary)
_ATTR_VAL_RE = (
    "(?is)(?:^|[^a-zA-Z0-9_-]){name}[ \\t]*=[ \\t]*"
    "(\"[^\"]*\"|'[^']*'|[^ \\t>\"'][^ \\t>]*)"
)


def tag_attr(tag: Column, name: str) -> Column:
    """Value of attribute ``name`` within a single tag string — quoted
    (either style) or an unquoted HTML5 token; NULL when absent."""
    raw = F.regexp_extract(tag, _ATTR_VAL_RE.format(name=name), 1)
    return F.when(raw != "", _unquote(raw))


def page_index_hints(
    df: DataFrame,
    html_col: str = "html",
    base_col: str = "url",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """The in-page dedup/indexing hints every crawler honors BEFORE
    content dedup: ``rel=canonical`` (the page's self-declared dedup
    key — resolved against the page URL like any reference, NULL when
    absent or unresolvable; ``rel`` treated as the HTML5 token LIST it
    is) and robots meta directives (``noindex`` / ``nofollow``,
    comma-separated, case-insensitive; absent meta means indexable).
    First declaration wins when duplicated (the de-facto crawler rule).
    Map-only — tag-list extraction, per-tag attribute parsing with
    whole-token comparison (no prefix false-positives), the resolve
    chain; downstream, group by ``coalesce(canonical_url, url)``
    instead of ``url`` to consolidate crawl duplicates the way dd13
    groups normalized URLs."""
    ws_split = "[ \\t\\r\\n]+"
    link_tags = F.regexp_extract_all(
        F.col(html_col), F.lit(HTML_LINK_TAG), F.lit(0)
    )
    canon_tags = F.filter(
        link_tags,
        lambda t: F.array_contains(
            F.split(F.lower(F.coalesce(tag_attr(t, "rel"), F.lit(""))),
                    ws_split),
            "canonical",
        ),
    )
    raw_c = tag_attr(F.try_element_at(canon_tags, F.lit(1)), "href")
    canon = F.when(
        raw_c.isNotNull() & (raw_c != ""),
        resolve_href(F.col(base_col), raw_c),
    )
    meta_tags = F.regexp_extract_all(
        F.col(html_col), F.lit(HTML_META_TAG), F.lit(0)
    )
    robots_tags = F.filter(
        meta_tags,
        lambda t: F.lower(F.coalesce(tag_attr(t, "name"), F.lit("")))
        == "robots",
    )
    directives = F.lower(
        F.coalesce(tag_attr(F.try_element_at(robots_tags, F.lit(1)), "content"),
                   F.lit(""))
    )
    has = lambda d: F.array_contains(
        F.transform(F.split(directives, ","), lambda x: F.trim(x)),
        d,
    )
    return df.select(
        *keep_cols,
        F.col(base_col).alias("url"),
        canon.alias("canonical_url"),
        has("noindex").alias("noindex"),
        has("nofollow").alias("nofollow"),
    )
