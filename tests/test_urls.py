"""URL canonicalization + host blocklist (webtext/urls.py)."""

from __future__ import annotations

import urllib.parse

import pytest
from pyspark.sql import functions as F

from pandas_dq_spark.webtext.urls import (
    filter_blocklisted_hosts,
    normalize_url,
    url_host,
)

CASES = [
    ("HTTPS://WWW.Example.COM:443/Path/To?Q=Aa#frag",
     "https://www.example.com/Path/To?Q=Aa", "www.example.com"),
    ("http://Host.com:80/", "http://host.com", "host.com"),
    ("http://Host.com:8080/x/", "http://host.com:8080/x", "host.com"),
    ("https://User@Site.ORG/A", "https://User@site.org/A", "site.org"),
    ("https://site.org", "https://site.org", "site.org"),
    # a default port of ANOTHER scheme is not a default port here
    ("ftp://F.Com:443", "ftp://f.com:443", "f.com"),
    ("http://h.com:443/x", "http://h.com:443/x", "h.com"),
    ("https://h.com/a:80/b:443?p=:443", "https://h.com/a:80/b:443?p=:443",
     "h.com"),
    ("http://u:80@H.com:80?q", "http://u:80@h.com?q", "h.com"),
    ("not a url", "not a url", ""),
    ("https://h.com/p#a#b", "https://h.com/p", "h.com"),
]


@pytest.fixture(scope="module")
def urls_df(spark):
    return spark.createDataFrame([(u,) for u, _, _ in CASES], "url string")


def test_normalize_url_cases(urls_df):
    got = [r["n"] for r in
           urls_df.select(normalize_url(F.col("url")).alias("n")).collect()]
    assert got == [exp for _, exp, _ in CASES]


def test_normalize_url_idempotent(urls_df):
    once = urls_df.select(normalize_url(F.col("url")).alias("url"))
    twice = once.select(normalize_url(F.col("url")).alias("url"))
    assert [r["url"] for r in once.collect()] == [r["url"] for r in twice.collect()]


def test_url_host_cases(urls_df):
    got = [r["h"] for r in
           urls_df.select(url_host(F.col("url")).alias("h")).collect()]
    assert got == [h for _, _, h in CASES]


def test_blocklist_isin_and_antijoin_agree(spark, urls_df):
    # case-insensitive; list path (isin) and DataFrame path (anti-join)
    # must agree; a narrow plan for the literal path
    bl = ["HOST.com", "f.com"]
    lit = filter_blocklisted_hosts(urls_df, bl)
    assert "Exchange" not in lit._jdf.queryExecution().executedPlan().toString()
    bdf = spark.createDataFrame([(h,) for h in bl], "host string")
    via_join = filter_blocklisted_hosts(urls_df, bdf)
    a = sorted(r["url"] for r in lit.collect())
    b = sorted(r["url"] for r in via_join.collect())
    assert a == b
    assert len(a) == len(CASES) - 3  # two Host.com rows + one f.com
    # empty blocklist is the identity
    assert filter_blocklisted_hosts(urls_df, []).count() == len(CASES)


def _canonical(url: str) -> str:
    """Independent canonicaliser (urllib.parse, not the regexes):
    fragment dropped, scheme and host lowercased, the scheme's own
    default port stripped from the authority only, one trailing slash
    dropped."""
    p = urllib.parse.urlsplit(url)
    netloc = p.hostname or ""
    if p.username is not None:
        user = p.username + ("" if p.password is None else ":" + p.password)
        netloc = user + "@" + netloc
    default = {"http": 80, "https": 443}.get(p.scheme.lower())
    if p.port is not None and p.port != default:
        netloc += f":{p.port}"
    out = urllib.parse.urlunsplit((p.scheme.lower(), netloc, p.path, p.query, ""))
    return out[:-1] if out.endswith("/") else out


def test_normalize_url_idempotent_fuzz(spark):
    """Seeded fuzz over url-ish strings: normalization is idempotent
    and host-preserving in one batched Spark job, and every url with a
    scheme matches an independent urllib canonicaliser — default port
    numbers in the userinfo, path and query included."""
    import random

    rng = random.Random(42)
    schemes = ["http://", "HTTPS://", "ftp://", ""]
    hosts = ["Example.com", "WWW.SITE.ORG", "h", "a.b.c.d", "127.0.0.1"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/A/B", "/x/y/", "/p?q=UPPER&r=2", "/p#Frag", "#only",
             "/a:80/b", "/docs:443", "/d:443?x=1", "?port=:80",
             "/q?next=:443/x", "/p?a=:80&b=:443/", "/x#y:80"]
    users = ["", "User@", "a:b@", "u:80@", "a:443@", "U:P:80@"]
    rows = []
    for _ in range(500):
        rows.append((
            rng.choice(schemes) + rng.choice(users) + rng.choice(hosts)
            + rng.choice(ports) + rng.choice(paths),
        ))
    rows += [("",), ("   ",), ("no scheme at all",), ("://broken",)]
    df = spark.createDataFrame(rows, "url string")
    once = normalize_url(F.col("url"))
    chk = df.select(
        F.col("url"),
        once.alias("n1"),
        normalize_url(once).alias("n2"),
        url_host(F.col("url")).alias("h0"),
        url_host(once).alias("h1"),
    )
    rows = chk.collect()
    bad = [r for r in rows if r["n1"] != r["n2"] or r["h0"] != r["h1"]]
    assert not bad, bad[:5]
    wrong = [(r["url"], r["n1"], _canonical(r["url"])) for r in rows
             if "://" in r["url"] and not r["url"].startswith("://")
             and r["n1"] != _canonical(r["url"])]
    assert not wrong, wrong[:5]
