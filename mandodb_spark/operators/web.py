"""Web-pipeline URL operators: parsing, canonicalization, registered
domain.

Crawl curation (CCNet / RefinedWeb / Dolma style) keys almost everything
on the URL: host-level quality priors, registered-domain dedup, tracking
-parameter stripping before exact-URL dedup.  Everything here is a pure
column-expression pipeline — regexp_extract + higher-order array
functions, all JVM-side whole-stage codegen, no UDF — so it runs at scan
speed over a 100 TB crawl table.  Patterns stay in the Java∩RE2 common
dialect (no backreferences, no lookbehind) so every function has an
exact DuckDB mirror for the oracle tier.

Beyond-reference surface (the reference has no string/function library —
SURVEY.md §2.7); grouped here rather than text.py because the semantics
are RFC-3986-shaped, not natural-language."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Query parameters dropped by canonicalization: pure click-tracking
#: noise that makes identical pages look distinct to exact-URL dedup.
TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "ref")
#: Tracking-param PREFIX families (utm_source, utm_campaign, ...).
TRACKING_PREFIXES = ("utm_",)

#: Two-level public suffixes where the registered domain needs THREE
#: labels (tiny by design — the operator shape is the point; swap in the
#: full Mozilla public-suffix list as a broadcast table in production).
TWO_LEVEL_SUFFIXES = ("co.uk", "com.au", "co.jp", "com.br", "co.in")

_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#:]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$"


def url_scheme(url: Column) -> Column:
    """Lowercased scheme; '' for unparseable input."""
    return F.lower(F.regexp_extract(url, _URL_RE, 1))


def url_host(url: Column) -> Column:
    """Lowercased host; '' for unparseable input."""
    return F.lower(F.regexp_extract(url, _URL_RE, 2))


def url_path(url: Column) -> Column:
    """Path as written ('' when absent — canonicalize restores '/')."""
    return F.regexp_extract(url, _URL_RE, 4)


def url_query(url: Column) -> Column:
    """Query string WITHOUT the leading '?'; '' when absent."""
    q = F.regexp_extract(url, _URL_RE, 5)
    return F.when(q == "", q).otherwise(F.substring(q, 2, 2**30))


def _is_tracking(kv: Column) -> Column:
    name = F.split(kv, "=", 2).getItem(0)
    cond = name.isin(*TRACKING_PARAMS)
    for p in TRACKING_PREFIXES:
        cond = cond | name.startswith(p)
    return cond


def canonical_query(url: Column) -> Column:
    """Query params minus tracking noise, sorted by full 'k=v' text; ''
    when nothing survives."""
    parts = F.split(url_query(url), "&")
    kept = F.filter(parts, lambda kv: (kv != "") & ~_is_tracking(kv))
    return F.array_join(F.array_sort(kept), "&")


def registered_domain(host: Column) -> Column:
    """eTLD+1 under :data:`TWO_LEVEL_SUFFIXES`: last 2 host labels, or
    last 3 when the 2-label tail is a listed public suffix."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, F.greatest(n - 1, F.lit(1)), 2), ".")
    last3 = F.array_join(F.slice(labels, F.greatest(n - 2, F.lit(1)), 3), ".")
    return F.when(last2.isin(*TWO_LEVEL_SUFFIXES), last3).otherwise(last2)


#: Group separator for the single-pass parse: a control character that
#: cannot appear in a conforming URL (RFC 3986 excludes controls).
_PARTS_SEP = ""


def url_parts(url: Column) -> Column:
    """All five URL components from ONE regex pass, as a struct
    ``(scheme, host, port, path, query)`` — scheme/host lowercased, port
    as written (':80' or ''), query without the leading '?'.

    The per-component accessors above each run the full ``_URL_RE`` match
    again, and inside a single projection the engine's subexpression
    elimination does not cover conditionally-evaluated branches — the
    composed :func:`canonicalize_url` expression executed the regex ~12×
    per row (measured 3.0 s / 100k rows at sf0.1, 20× the cost of one
    match).  Here one ``regexp_replace`` rewrites the matched URL to its
    groups joined by ``\\x01`` and a split recovers them; a non-matching
    URL passes through unchanged and takes the per-component extractors,
    yielding the same all-empty components ``regexp_extract`` returns.
    Alias the struct in its OWN projection (multi-referenced aliases are
    not collapsed, so the parse stays single-execution) and build on the
    fields.
    """
    rep = F.regexp_replace(
        url, _URL_RE,
        _PARTS_SEP.join(f"${i}" for i in range(1, 6)),
    )
    arr = F.split(rep, _PARTS_SEP)
    # Spark's split keeps trailing empty strings (Java split with
    # limit=-1), so a match with empty port/path/query still yields
    # exactly 5 parts — pinned by a regression test.  A url that CONTAINS
    # the separator byte (not RFC-conforming, but possible input) would
    # split into != 5 parts, and a non-matching input with exactly four
    # separators would split into 5 parts of garbage; the guard routes
    # both through the per-component extractors so the struct agrees
    # with :func:`canonicalize_url` on every input.  ``rep != url`` is
    # "the regex matched" without a second regex pass: a match rewrites
    # the ``://`` after the scheme, a non-match passes through unchanged.
    ok = (rep != url) & (F.size(arr) == 5)
    g = lambda i, alt: F.when(ok, arr[i]).otherwise(alt)  # noqa: E731
    q = g(4, url_query(url))
    return F.struct(
        F.lower(g(0, F.regexp_extract(url, _URL_RE, 1))).alias("scheme"),
        F.lower(g(1, F.regexp_extract(url, _URL_RE, 2))).alias("host"),
        g(2, F.regexp_extract(url, _URL_RE, 3)).alias("port"),
        g(3, F.regexp_extract(url, _URL_RE, 4)).alias("path"),
        F.when(ok,
               F.when(arr[4] == "", F.lit(""))
               .otherwise(F.substring(arr[4], 2, 2**30))).otherwise(q)
        .alias("query"),
    )


def canonicalize_from_parts(p: Column) -> Column:
    """:func:`canonicalize_url` over a materialized :func:`url_parts`
    struct column — every component is a struct-field read, so the regex
    cost is whatever the caller paid to build ``p`` (once, when aliased
    in its own projection)."""
    scheme = p.getField("scheme")
    port = p.getField("port")
    port = F.when(
        ((scheme == "http") & (port == ":80"))
        | ((scheme == "https") & (port == ":443")),
        F.lit(""),
    ).otherwise(port)
    path = p.getField("path")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    parts = F.split(p.getField("query"), "&")
    kept = F.filter(parts, lambda kv: (kv != "") & ~_is_tracking(kv))
    q = F.array_join(F.array_sort(kept), "&")
    q = F.when(q == "", q).otherwise(F.concat(F.lit("?"), q))
    out = F.concat(scheme, F.lit("://"), p.getField("host"), port, path, q)
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(out)


def canonicalize_url(url: Column) -> Column:
    """Canonical form: lowercase scheme+host, default port stripped
    (http:80 / https:443), fragment dropped, tracking params dropped,
    surviving params sorted, empty path normalized to '/'.  NULL for
    input that doesn't parse as scheme://host...

    Column-composition convenience (per-component regex extraction —
    subexpression elimination does not reach conditional branches, so
    composing :func:`url_parts` inline would re-run the parse per field
    reference and measure WORSE).  Corpus-scale callers should
    materialize :func:`url_parts` in its own projection and use
    :func:`canonicalize_from_parts` so the regex parse runs once per
    row."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = F.regexp_extract(url, _URL_RE, 3)
    port = F.when(
        ((scheme == "http") & (port == ":80"))
        | ((scheme == "https") & (port == ":443")),
        F.lit(""),
    ).otherwise(port)
    path = url_path(url)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = canonical_query(url)
    q = F.when(q == "", q).otherwise(F.concat(F.lit("?"), q))
    out = F.concat(scheme, F.lit("://"), host, port, path, q)
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(out)


# --- DuckDB mirrors (oracle generators) ---------------------------------

def _sql_extract(url_expr: str, group: int) -> str:
    return f"coalesce(regexp_extract({url_expr}, '{_URL_RE}', {group}), '')"


def url_host_sql(url_expr: str) -> str:
    return f"lower({_sql_extract(url_expr, 2)})"


def canonicalize_url_sql(url_expr: str) -> str:
    """DuckDB mirror of :func:`canonicalize_url`.

    DuckDB's regexp_extract returns '' (not NULL) for no-match — same as
    Spark — but needs explicit group indices; list functions mirror the
    Spark HOFs one-for-one."""
    scheme = f"lower({_sql_extract(url_expr, 1)})"
    host = f"lower({_sql_extract(url_expr, 2)})"
    port_raw = _sql_extract(url_expr, 3)
    port = (f"CASE WHEN ({scheme} = 'http' AND {port_raw} = ':80') "
            f"OR ({scheme} = 'https' AND {port_raw} = ':443') "
            f"THEN '' ELSE {port_raw} END")
    path_raw = _sql_extract(url_expr, 4)
    path = f"CASE WHEN {path_raw} = '' THEN '/' ELSE {path_raw} END"
    q_raw = _sql_extract(url_expr, 5)
    q_body = f"CASE WHEN {q_raw} = '' THEN '' ELSE substr({q_raw}, 2) END"
    track = " OR ".join(
        [f"string_split(kv, '=')[1] = '{p}'" for p in TRACKING_PARAMS]
        + [f"starts_with(string_split(kv, '=')[1], '{p}')" for p in TRACKING_PREFIXES]
    )
    kept = (f"list_sort(list_filter(string_split({q_body}, '&'), "
            f"kv -> kv <> '' AND NOT ({track})))")
    q = (f"CASE WHEN len({kept}) = 0 THEN '' "
         f"ELSE '?' || array_to_string({kept}, '&') END")
    return (f"CASE WHEN {scheme} = '' THEN NULL "
            f"ELSE {scheme} || '://' || {host} || {port} || {path} || {q} END")


def registered_domain_sql(host_expr: str) -> str:
    suf = ", ".join(f"'{s}'" for s in TWO_LEVEL_SUFFIXES)
    ls = f"string_split({host_expr}, '.')"
    last2 = f"array_to_string(list_slice({ls}, greatest(len({ls}) - 1, 1), len({ls})), '.')"
    last3 = f"array_to_string(list_slice({ls}, greatest(len({ls}) - 2, 1), len({ls})), '.')"
    return f"CASE WHEN {last2} IN ({suf}) THEN {last3} ELSE {last2} END"
