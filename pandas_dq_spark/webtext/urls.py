"""URL canonicalization + host filtering for crawl pipelines
(prompt §'beyond the reference': the steps between fetching and
dedup — a corpus keyed on raw urls double-counts pages that differ
only in case, fragment, default port, or a trailing slash).

Everything is a narrow Catalyst projection built from regexes in the
COMMON Java-regex/RE2 subset, so the DuckDB oracle replays the exact
same expressions; the blocklist filter is a broadcast anti-join (or an
``isin`` literal for small lists) that AQE keeps off the shuffle
path."""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# scheme://[userinfo@]HOST[:port] — host captured without port
_SCHEME_HOST_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://)(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(col: F.Column) -> F.Column:
    """Lowercased host of a ``scheme://...`` url ('' when absent)."""
    return F.lower(F.regexp_extract(col, _SCHEME_HOST_RE, 2))


def normalize_url(col: F.Column) -> F.Column:
    """Canonical form: strip fragment, lowercase scheme + host, drop
    the scheme's default port (:80 for http, :443 for https), drop a
    single trailing slash.

    Order matters and is part of the contract (the DuckDB oracle
    replays the same four regexp passes in the same order):

    1. ``#fragment`` removed.
    2. the ``scheme://host`` prefix lowercased IN PLACE (path, query
       and userinfo keep their case).
    3. ``:80`` dropped from an ``http`` authority and ``:443`` from an
       ``https`` one, when the port ends the authority (followed by
       ``/``, ``?`` or end-of-string).  Anchored on the prefix, so a
       default port number in the userinfo, path or query, or on
       another scheme, is kept.  Written with captured groups, not
       lookahead — RE2, DuckDB's engine, has no lookahead.
    4. one trailing ``/`` removed (``https://h/`` == ``https://h``).
    """
    u = F.regexp_replace(col, r"#.*$", "")
    # lowercase the scheme and the authority's host (keep userinfo,
    # path, and query untouched): rebuild prefix + remainder
    prefix = F.concat(
        F.lower(F.regexp_extract(u, _SCHEME_HOST_RE, 1)),
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/@?#]*@)?", 1),
        F.lower(F.regexp_extract(u, _SCHEME_HOST_RE, 2)),
    )
    rest = F.regexp_replace(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+", ""
    )
    u = F.when(
        F.regexp_extract(u, _SCHEME_HOST_RE, 2) != "", F.concat(prefix, rest)
    ).otherwise(u)
    for scheme, port in (("http", 80), ("https", 443)):
        u = F.regexp_replace(
            u, rf"^({scheme}://(?:[^/@?#]*@)?[^/:?#]+):{port}([/?]|$)", "$1$2"
        )
    return F.regexp_replace(u, r"/$", "")


def filter_blocklisted_hosts(
    df: DataFrame,
    blocklist,
    url_col: str = "url",
    isin_cap: int = 10_000,
) -> DataFrame:
    """Drop rows whose (lowercased) url host is blocklisted.

    ``blocklist`` is an iterable of hosts or a single-column DataFrame.
    Small literal lists become an ``isin`` predicate inside the scan's
    filter; DataFrame blocklists (or lists above ``isin_cap``) use a
    LEFT ANTI join — AQE broadcasts the block side when it fits, so
    the corpus never shuffles either way."""
    host = url_host(F.col(url_col))
    if isinstance(blocklist, DataFrame):
        bl = blocklist.select(
            F.lower(F.col(blocklist.columns[0])).alias("__blocked_host")
        ).distinct()
        return df.join(
            bl, host == F.col("__blocked_host"), "left_anti"
        )
    hosts = sorted({h.lower() for h in blocklist})
    if len(hosts) <= isin_cap:
        if not hosts:
            return df
        return df.filter(~host.isin(hosts))
    spark = df.sparkSession
    bl = spark.createDataFrame(
        [(h,) for h in hosts], "__blocked_host string"
    )
    return df.join(bl, host == F.col("__blocked_host"), "left_anti")
