"""Spark-side parity: the pandas UDFs and Column exprs must agree with the
pure kernel on the same inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from secretscraper_spark.config import loaded_rules, url_finder_rules
from secretscraper_spark.functions import purekit as pk
from secretscraper_spark.functions.exprs import (
    domain_blacklist,
    domain_whitelist,
    host_of,
    is_dangerous_path,
    is_extend_expr,
    is_js_expr,
    is_static_resource_expr,
    status_allowed,
)
from secretscraper_spark.functions.extract import (
    make_extract_udf,
    make_parse_url_udf,
    make_secrets_udf,
)


def _extract(df):
    """make_extract_udf over (scheme, netloc, caption) with the link gate
    open — the crawler's one extraction pass."""
    udf = make_extract_udf(url_finder_rules(), loaded_rules())
    return df.select(
        udf("scheme", "netloc", "caption", F.lit(True)).alias("ex")
    )


def test_secrets_udf(spark, planted_text):
    df = spark.createDataFrame([(planted_text,)], "caption string")
    rows = (
        df.select(F.explode(make_secrets_udf(loaded_rules())("caption")).alias("s"))
        .select("s.rule_name", "s.match")
        .collect()
    )
    got = {(r.rule_name, r.match) for r in rows}
    expected = set(pk.RegexExtractor(loaded_rules(), use_groups=True).extract(planted_text))
    assert got == expected
    assert {t for t, _ in got} == set(loaded_rules().keys())


def test_links_udf(spark, html_text):
    df = spark.createDataFrame(
        [("http", "site0.test", html_text)], "scheme string, netloc string, caption string"
    )
    rows = (
        _extract(df).select(F.explode("ex.children").alias("c"))
        .select("c.url_norm")
        .collect()
    )
    got = {r.url_norm for r in rows}
    expected = {
        pk.unparse6(t)
        for t in pk.LinkExtractor(url_finder_rules()).extract(
            pk.parse6("http://site0.test/"), html_text
        )
    }
    assert got == expected
    assert "http://site0.test/p/child1" in got


def test_parse_url_udf(spark):
    urls = ["http://h/p;par?q=1#f", "https://h:8080/a", "/rel", "http://h/p#"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select("url", make_parse_url_udf()("url").alias("p")).collect()
    for r in rows:
        t = pk.parse6(r.url)
        assert (r.p.scheme, r.p.netloc, r.p.path, r.p.params, r.p.query, r.p.fragment) == t
        assert r.p.url_norm == pk.unparse6(t)


def test_title_udf(spark):
    df = spark.createDataFrame(
        [("http", "h.test", "<title>A</title><title>B</title>")],
        "scheme string, netloc string, caption string",
    )
    assert _extract(df).select("ex.title").first().title == "A|B"


def test_static_and_dangerous_exprs(spark):
    paths = ["/a/b.png", "/x.png?v=1", "/a/b.html", "/logout", "/a/DELETE/x", "/safe", "delete1"]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    rows = df.select(
        "path",
        is_static_resource_expr(F.col("path")).alias("st"),
        is_dangerous_path(F.col("path")).alias("dg"),
        is_js_expr(F.col("path")).alias("js"),
    ).collect()
    ev = pk.make_evade_matcher(["logout", "update", "remove", "insert", "delete"])
    for r in rows:
        assert r.st == pk.is_static_resource(r.path), r.path
        assert r.dg == ev(r.path), r.path
        assert r.js == pk.is_js_path(r.path), r.path


def test_extend_expr(spark):
    cts = [
        "text/html; charset=utf-8", "text/plain", "application/json",
        "Application/JSON; x=1", "application/octet-stream",
        "application/pdf", "image/png", "", None,
    ]
    df = spark.createDataFrame([(c,) for c in cts], "ct string")
    for r in df.select("ct", is_extend_expr(F.col("ct")).alias("e")).collect():
        assert r.e == pk.is_extend(r.ct), r.ct


def test_domain_filters(spark):
    """Truth table of reference tests/test_filter.py:8-38."""
    hosts = ["a.site0.test", "site0.test", "evil.test", "sub.site1.test"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    white = df.select("host", domain_whitelist(F.col("host"), ["*.site0.test", "site0.test"]).alias("w")).collect()
    assert {r.host: r.w for r in white} == {
        "a.site0.test": True, "site0.test": True, "evil.test": False, "sub.site1.test": False,
    }
    black = df.select("host", domain_blacklist(F.col("host"), ["evil.*"]).alias("b")).collect()
    assert {r.host: r.b for r in black} == {
        "a.site0.test": True, "site0.test": True, "evil.test": False, "sub.site1.test": True,
    }


def test_host_of(spark):
    df = spark.createDataFrame(
        [("example.test",), ("example.test:8080",), ("a:b:c",)], "netloc string"
    )
    got = {r.netloc: r.h for r in df.select("netloc", host_of(F.col("netloc")).alias("h")).collect()}
    for n, h in got.items():
        assert h == pk.to_host_port(n)[0]


def test_status_allowed(spark):
    """F12 (reference output_formatter.py:53-69 + regression test):
    404 always dropped; ranges keep numeric in [start,end)."""
    df = spark.createDataFrame(
        [("200",), ("404",), ("302",), ("Unknown",), ("500",)], "status string"
    )
    no_ranges = {r.status for r in df.filter(status_allowed(F.col("status"), None)).collect()}
    assert no_ranges == {"200", "302", "Unknown", "500"}
    ranged = {r.status for r in df.filter(status_allowed(F.col("status"), [(200, 400)])).collect()}
    assert ranged == {"200", "302"}


def test_extract_anchors(spark):
    """href quoting styles, nested-tag anchor stripping, whitespace
    collapse, case-insensitive tags, multiline anchors, no-anchor rows
    dropped, NULL html safe."""
    from secretscraper_spark.functions.exprs import extract_anchors

    html = (
        '<p><a href="http://a.example/x">First link</a>'
        "<A HREF='http://a.example/y'>second <b>bold</b>\n link</A>"
        '<a rel="next" href=http://a.example/z>bare</a>'
        '<a name="no-href">not a link</a></p>'
    )
    pages = spark.createDataFrame(
        [("u1", html), ("u2", "<p>no links</p>"), ("u3", None)],
        "url_norm string, caption string",
    )
    got = {
        (r.url, r.href): r.anchor for r in extract_anchors(pages).collect()
    }
    assert got == {
        ("u1", "http://a.example/x"): "First link",
        ("u1", "http://a.example/y"): "second bold link",
        ("u1", "http://a.example/z"): "bare",
    }
