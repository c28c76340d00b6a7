"""URL normalization for web-crawl pipelines: the canonical form used as
the URL-level dedup/join key (the step before content-level dedup in a
Common-Crawl-style flow — re-crawls of the same resource differ only in
case, default ports, tracking params, fragments, and param order).

Pure native expressions (regexp_extract / split / filter / array_sort /
concat), portable to a DuckDB oracle — no Python, no UDF, one codegen
pass. Deliberately CONSERVATIVE: only transformations that preserve
resource identity per RFC 3986 section 6 (case of scheme/host, default
port, empty query/fragment, query-param ORDER) plus the one
de-facto-standard lossy rule every pipeline applies (dropping utm_*
tracking params). Path case, trailing slashes, and %-encoding are left
alone — those CAN change the resource.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# regexp fragments shared with the SQL oracle (dialect-portable: character
# classes and greedy quantifiers only)
_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_RE = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
# the [^#]* prefix anchors the '?' BEFORE any fragment — '#a?b' must not
# leak fragment content into the query capture
_QUERY_RE = r"^[^#]*?\?([^#]*)"
# authority = [userinfo '@'] hostport — userinfo is CASE-SENSITIVE per
# RFC 3986 3.2.1, so only the part after the LAST '@' may be lowercased
# (round-4 advice). Greedy .* puts the split at the last '@' identically
# under Java and RE2; both return '' when the group doesn't match.
_USERINFO_RE = "^(.*@)"
_HOSTPORT_RE = "([^@]*)$"
_TRACKING_PREFIX = "utm_"


def normalize_url(col: Column) -> Column:
    """Canonicalize an absolute http(s) URL:

    * scheme and host lowercased (RFC 3986 6.2.2.1) — userinfo, when
      present, is case-PRESERVED (it is case-sensitive per RFC 3986
      3.2.1; only the authority after the last ``@`` is lowercased);
    * default port stripped (``:80`` for http, ``:443`` for https);
    * fragment dropped (never sent to the server);
    * ``utm_*`` tracking params dropped, remaining params SORTED
      byte-wise (param order is not semantic);
    * empty query string drops its ``?``.

    Non-URL input (no ``scheme://``) passes through unchanged, so the
    expression is safe on dirty crawl data."""
    scheme = F.lower(F.regexp_extract(col, _SCHEME_RE, 1))
    auth = F.regexp_extract(col, _HOST_RE, 1)
    userinfo = F.regexp_extract(auth, _USERINFO_RE, 1)  # case PRESERVED
    host = F.lower(F.regexp_extract(auth, _HOSTPORT_RE, 1))
    path = F.regexp_extract(col, _PATH_RE, 1)
    query = F.regexp_extract(col, _QUERY_RE, 1)

    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)
    host = F.concat(userinfo, host)

    kept_params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0)
            & ~F.startswith(p, F.lit(_TRACKING_PREFIX)),
        )
    )
    norm_query = F.array_join(kept_params, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(F.length(norm_query) > 0, F.concat(F.lit("?"), norm_query))
        .otherwise(F.lit("")),
    )
    return F.when(scheme == "", col).otherwise(rebuilt)


def normalize_url_sql(c: str) -> str:
    """DuckDB mirror of ``normalize_url`` — same regexes, same transform
    order, so normalized URLs are oracle-checkable byte-for-byte."""
    scheme = f"lower(regexp_extract({c}, '{_SCHEME_RE}', 1))"
    auth = f"regexp_extract({c}, '{_HOST_RE}', 1)"
    userinfo = f"regexp_extract({auth}, '{_USERINFO_RE}', 1)"
    host = f"lower(regexp_extract({auth}, '{_HOSTPORT_RE}', 1))"
    path = f"regexp_extract({c}, '{_PATH_RE}', 1)"
    query = f"regexp_extract({c}, '{_QUERY_RE}', 1)"
    return f"""CASE WHEN {scheme} = '' THEN {c} ELSE
        {scheme} || '://' || {userinfo} ||
        (CASE WHEN {scheme} = 'http' AND {host} LIKE '%:80'
              THEN substr({host}, 1, length({host}) - 3)
              WHEN {scheme} = 'https' AND {host} LIKE '%:443'
              THEN substr({host}, 1, length({host}) - 4)
              ELSE {host} END) ||
        {path} ||
        (CASE WHEN length(array_to_string(list_sort(list_filter(
                 string_split({query}, '&'),
                 p -> length(p) > 0 AND NOT starts_with(p, '{_TRACKING_PREFIX}'))), '&')) > 0
              THEN '?' || array_to_string(list_sort(list_filter(
                 string_split({query}, '&'),
                 p -> length(p) > 0 AND NOT starts_with(p, '{_TRACKING_PREFIX}'))), '&')
              ELSE '' END)
        END"""


# second-level public suffixes the conservative heuristic recognises: when
# the host's last two labels are one of these, the registrable domain is
# THREE labels (bbc.co.uk), otherwise two (example.com). A pinned, small
# subset of the public-suffix list — broad ccTLD coverage would need the
# full PSL shipped as a broadcast table; out of scope by design and
# documented as such.
SECOND_LEVEL_SUFFIXES = (
    "ac.uk", "co.uk", "gov.uk", "org.uk",
    "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au",
    "co.za", "com.br", "co.in", "co.nz",
    "com.cn", "com.mx", "com.ar", "com.tr",
)


def registrable_domain(col: Column) -> Column:
    """Registrable domain of an absolute URL — the per-source key a
    curation pipeline groups policies by (FineWeb-style per-domain
    recipes): lowercased host (userinfo and port stripped), reduced to its
    last two labels, or three when the last two are a pinned second-level
    public suffix (``SECOND_LEVEL_SUFFIXES``). All-numeric hosts (IPv4)
    pass through whole; non-URL input (no ``scheme://``) yields NULL.
    Pure native expressions, mirrored by ``registrable_domain_sql``."""
    scheme = F.lower(F.regexp_extract(col, _SCHEME_RE, 1))
    auth = F.regexp_extract(col, _HOST_RE, 1)
    hostport = F.lower(F.regexp_extract(auth, _HOSTPORT_RE, 1))
    host = F.regexp_extract(hostport, "^([^:]*)", 1)
    labels = F.split(host, "\\.")
    k = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    dom = (
        F.when(host.rlike("^[0-9.]+$"), host)
        .when(
            (k >= 3) & last2.isin(*SECOND_LEVEL_SUFFIXES),
            F.concat_ws(".", F.element_at(labels, -3), last2),
        )
        .when(k >= 2, last2)
        .otherwise(host)
    )
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(dom)


def registrable_domain_sql(c: str) -> str:
    """DuckDB mirror of ``registrable_domain`` — same regexes, same label
    arithmetic, byte-for-byte oracle-checkable."""
    suffixes = ", ".join(f"'{s}'" for s in SECOND_LEVEL_SUFFIXES)
    scheme = f"lower(regexp_extract({c}, '{_SCHEME_RE}', 1))"
    auth = f"regexp_extract({c}, '{_HOST_RE}', 1)"
    hostport = f"lower(regexp_extract({auth}, '{_HOSTPORT_RE}', 1))"
    host = f"regexp_extract({hostport}, '^([^:]*)', 1)"
    labels = f"string_split_regex({host}, '\\.')"
    last2 = f"({labels})[-2] || '.' || ({labels})[-1]"
    return f"""CASE WHEN {scheme} = '' THEN NULL
        WHEN regexp_matches({host}, '^[0-9.]+$') THEN {host}
        WHEN len({labels}) >= 3 AND ({last2}) IN ({suffixes})
             THEN ({labels})[-3] || '.' || ({last2})
        WHEN len({labels}) >= 2 THEN {last2}
        ELSE {host} END"""


def dedup_urls_keep_latest(
    df,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    tie_col: str = "doc_id",
):
    """Crawl-snapshot dedup — the multi-crawl collapse a Common-Crawl-
    style corpus runs BEFORE content dedup: re-crawls of one resource
    (same resource identity, noisy spelling) collapse to the NEWEST
    snapshot.

    Canonical key = :func:`normalize_url` of ``url_col``; within a key
    the row with max ``ts_col`` wins, ties broken by min ``tie_col``
    (deterministic under any partitioning).  The output carries
    ``canon_url`` and ``n_snapshots`` (how many captures collapsed —
    the re-crawl-frequency signal).

    Plan: ONE shuffle — the count window and the row_number window
    stack on the same ``hashpartitioning(canon_url)`` exchange.  At
    100 TB the canonical key is the natural crawl-partition key, so
    this exchange co-locates with everything downstream that joins or
    groups on URL.
    """
    from pyspark.sql import Window

    part = Window.partitionBy("canon_url")
    w = part.orderBy(F.col(ts_col).desc(), F.col(tie_col).asc())
    return (
        df.withColumn("canon_url", normalize_url(F.col(url_col)))
        .withColumn("n_snapshots", F.count(F.lit(1)).over(part))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot_change_stats(
    df,
    url_col: str = "url",
    ts_col: str = "ts",
    fp_col: str = "content",
    tie_col: str = "doc_id",
):
    """Per-URL capture-history statistics — THE one implementation
    behind batch dd14 and the wt7 crawl frontier: capture count,
    consecutive-change count
    (fingerprints compared in deterministic (ts, tie) capture order),
    last capture time, and change_rate = changes/(snapshots−1) as ONE
    int/int IEEE division.

    Plan: the lag window and the count/sum/max aggregate stack on the
    same ``hashpartitioning(url)`` exchange — the canonical-URL
    partitioning the crawl pipeline already uses everywhere."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(
        F.col(ts_col).asc(), F.col(tie_col).asc()
    )
    return (
        df.withColumn("_prev", F.lag(fp_col).over(w))
        .groupBy(url_col)
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.sum(
                F.when(
                    F.col("_prev").isNotNull()
                    & (F.col(fp_col) != F.col("_prev")),
                    1,
                ).otherwise(0)
            ).alias("n_changes"),
            F.max(ts_col).alias("last_ts"),
        )
        .withColumn(
            "change_rate",
            F.when(
                F.col("n_snapshots") > 1,
                F.col("n_changes").cast("double")
                / (F.col("n_snapshots") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )
