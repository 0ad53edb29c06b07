"""robots.txt parsing + URL permission checks (operators/robots.py) —
RFC 9309 semantics: group recovery, most-specific agent group, longest
match with Allow winning ties, '*'/'$' patterns."""

from __future__ import annotations

import os

from geolake_spark.operators import robots

from conftest import ROOT

ROBOTS = [
    ("a.com",
     "# global rules\n"
     "User-agent: googlebot\n"
     "User-agent: bingbot\n"
     "Disallow: /private\n"
     "\n"
     "User-agent: *\n"
     "Disallow: /tmp/\n"
     "Allow: /tmp/public\n"
     "Disallow: /*?session=\n"
     "Disallow: /exact$\n"
     "Allow:\n"),
    ("b.com",
     "User-agent: MyBot\n"
     "Disallow: /\n"
     "User-agent: *\n"
     "Allow: /\n"),
    ("c.com", "Disallow: /orphan\n"),          # rule before any UA: invalid
    ("tie.com",
     "User-agent: *\n"
     "Disallow: /dir/\n"
     "Allow: /dir2\n"),                        # equal length 5: Allow wins
]


def _check(spark, urls, agent="*"):
    rdf = spark.createDataFrame(ROBOTS, "host string, robots_txt string")
    pdf = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r.url: (r.allowed, r.rule)
            for r in robots.robots_check(pdf, rdf, agent=agent).collect()}


def test_star_group_rules(spark):
    got = _check(spark, [
        "https://a.com/tmp/secret", "https://a.com/tmp/public/x",
        "https://a.com/private", "https://a.com/page?session=9",
        "https://a.com/exact", "https://a.com/exactly", "https://a.com",
    ])
    assert got["https://a.com/tmp/secret"] == (False, "/tmp/")
    # longer Allow overrides the /tmp/ Disallow
    assert got["https://a.com/tmp/public/x"] == (True, "/tmp/public")
    # /private belongs to the googlebot/bingbot group only
    assert got["https://a.com/private"] == (True, "")
    assert got["https://a.com/page?session=9"] == (False, "/*?session=")
    assert got["https://a.com/exact"] == (False, "/exact$")
    assert got["https://a.com/exactly"] == (True, "")   # $ anchors
    assert got["https://a.com"] == (True, "")           # no path -> '/'


def test_most_specific_group_shadows_star(spark):
    g = _check(spark, ["https://a.com/private", "https://a.com/tmp/secret",
                       "https://b.com/x"], agent="GoogleBot")
    # googlebot group applies; the '*' group is IGNORED on a.com
    assert g["https://a.com/private"] == (False, "/private")
    assert g["https://a.com/tmp/secret"] == (True, "")
    # no googlebot group on b.com -> falls back to '*'
    assert g["https://b.com/x"] == (True, "/")
    m = _check(spark, ["https://b.com/x"], agent="mybot")
    assert m["https://b.com/x"] == (False, "/")


def test_invalid_missing_and_tie(spark):
    got = _check(spark, ["https://c.com/orphan", "https://nobots.net/x",
                         "https://tie.com/dir2", "https://tie.com/dir/a"])
    assert got["https://c.com/orphan"] == (True, "")    # orphan rule invalid
    assert got["https://nobots.net/x"] == (True, "")    # no robots.txt
    assert got["https://tie.com/dir/a"] == (False, "/dir/")
    # '/dir2' (Allow) and '/dir/' (Disallow) are both length 5 and both
    # match '/dir2' only via the Allow -> allowed; make a true tie:
    # '/dir/' vs a 5-char Allow on the same path is not constructible
    # here, so assert the Allow match directly
    assert got["https://tie.com/dir2"] == (True, "/dir2")


def test_allow_wins_equal_length_tie(spark):
    rows = [("t.com", "User-agent: *\nDisallow: /abc\nAllow: /ab*\n")]
    rdf = spark.createDataFrame(rows, "host string, robots_txt string")
    pdf = spark.createDataFrame([("https://t.com/abc",)], "url string")
    got = {r.url: (r.allowed, r.rule)
           for r in robots.robots_check(pdf, rdf).collect()}
    # both patterns are 4 chars and both match '/abc' -> Allow wins
    assert got["https://t.com/abc"] == (True, "/ab*")


def test_rules_table_shape(spark):
    rdf = spark.createDataFrame(ROBOTS, "host string, robots_txt string")
    rules = {(r.host, r.allow, r.path): (r.pattern_len, r.rx)
             for r in robots.robots_rules(rdf).collect()}
    assert ("a.com", False, "/tmp/") in rules
    assert ("a.com", True, "/tmp/public") in rules
    # googlebot-only rule absent for '*'; orphan c.com rule absent
    assert all(h != "c.com" for h, _a, _p in rules)
    assert ("a.com", False, "/private") not in rules
    # wildcard compiled: '?' escaped, '*' -> '.*', '$' anchored
    plen, rx = rules[("a.com", False, "/*?session=")]
    assert plen == 11 and rx == "^/.*\\?session="
    _plen, rx2 = rules[("a.com", False, "/exact$")]
    assert rx2 == "^/exact$"


def test_crawl_audit_job(spark, tmp_path, monkeypatch):
    """jobs/crawl_audit.py end-to-end: noindex + canonical-shadow +
    robots gates each drop their target page; resume skips buckets."""
    import runpy
    import sys

    from pyspark.sql import SparkSession

    # the job calls spark.stop() on the shared local JVM session — keep
    # the session fixture alive across the runpy invocations
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    pages = [
        # plain keeper
        ("https://a.com/keep", "<html><body><p>"
         + "fine content words " * 5 + "</p></body></html>"),
        # noindex -> dropped
        ("https://a.com/hidden",
         '<html><head><meta name="robots" content="noindex"></head>'
         "<body><p>secret</p></body></html>"),
        # canonical-shadowed: declares /keep as canonical -> dropped,
        # /keep (the keeper) survives
        ("https://a.com/dup",
         '<html><head><link rel="canonical" href="/keep"></head>'
         "<body><p>dup</p></body></html>"),
        # robots-disallowed path
        ("https://a.com/tmp/x", "<html><body><p>tmp</p></body></html>"),
    ]
    robots = [("a.com", "User-agent: *\nDisallow: /tmp/\n")]
    pin = str(tmp_path / "pages.parquet")
    rin = str(tmp_path / "robots.parquet")
    spark.createDataFrame(pages, "url string, html string") \
        .write.parquet(pin)
    spark.createDataFrame(robots, "host string, robots_txt string") \
        .write.parquet(rin)
    table = str(tmp_path / "audited")
    argv = ["crawl_audit.py", "--pages", pin, "--robots", rin,
            "--table", table, "--buckets", "2", "--cores", "4"]
    monkeypatch.setattr(sys, "argv", argv)
    runpy.run_path(os.path.join(ROOT, "jobs/crawl_audit.py"),
                   run_name="__main__")
    kept = {r.url for r in spark.read.parquet(table + "/data").collect()}
    assert kept == {"https://a.com/keep"}
    monkeypatch.setattr(sys, "argv", argv + ["--resume"])
    runpy.run_path(os.path.join(ROOT, "jobs/crawl_audit.py"),
                   run_name="__main__")
    assert {r.url for r in spark.read.parquet(table + "/data").collect()} \
        == {"https://a.com/keep"}


def test_sitemaps_and_crawl_delays(spark):
    rows = [
        ("s.com",
         "Sitemap: https://s.com/sm.xml\n"
         "User-agent: bot\nCrawl-delay: 2\nDisallow: /x\n"
         "User-agent: *\nCrawl-delay: 1.5\nCrawl-delay: 0.5\n"
         "Sitemap: https://s.com/sm2.xml\n"
         "Crawl-delay: nonsense\n"),
        ("t.com", "Crawl-delay: 3\n"),   # before any UA line: invalid
    ]
    rdf = spark.createDataFrame(rows, "host string, robots_txt string")
    sm = {(r.host, r.sitemap_url)
          for r in robots.robots_sitemaps(rdf).collect()}
    # Sitemap lines are group-independent — both extracted
    assert sm == {("s.com", "https://s.com/sm.xml"),
                  ("s.com", "https://s.com/sm2.xml")}
    star = {r.host: r.crawl_delay
            for r in robots.robots_crawl_delays(rdf).collect()}
    assert star == {"s.com": 0.5}        # min of 1.5/0.5; junk ignored
    bot = {r.host: r.crawl_delay
           for r in robots.robots_crawl_delays(rdf, agent="BOT").collect()}
    assert bot == {"s.com": 2.0}         # specific group shadows '*'


# ------------------------------------------------------- fetch_schedule

def test_fetch_schedule_serializes_per_host(spark):
    from geolake_spark.operators import robots as rb
    frontier = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/2",), ("https://a.com/3",),
         ("https://b.com/x",), ("https://b.com/y",)], "url string")
    delays = spark.createDataFrame([("a.com", 10)],
                                   "host string, crawl_delay long")
    out = {r.url: (r.slot, r.fetch_at_us) for r in rb.fetch_schedule(
        frontier, delays, default_delay_s=2, start_us=100).collect()}
    assert out["https://a.com/1"] == (0, 100)
    assert out["https://a.com/2"] == (1, 100 + 10_000_000)
    assert out["https://a.com/3"] == (2, 100 + 20_000_000)
    # b.com missing from delays: default 2 s
    assert out["https://b.com/x"] == (0, 100)
    assert out["https://b.com/y"] == (1, 100 + 2_000_000)


def test_frontier_job(spark, tmp_path, monkeypatch):
    """jobs/frontier.py end-to-end: sitemap parse -> canonical dedup ->
    seen anti-join -> robots gate -> crawl-delay schedule; resume skips
    committed buckets."""
    import runpy
    import sys

    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    xml = ("<urlset>"
           "<url><loc> https://a.com/new1 </loc></url>"
           "<url><loc>https://a.com/new2</loc></url>"
           "<url><loc>https://a.com/tmp/x</loc></url>"
           "<url><loc>HTTPS://A.COM:443/seen</loc></url>"
           "<url><loc>https://b.com/solo</loc></url>"
           "</urlset>")
    sin = str(tmp_path / "sitemaps.parquet")
    pin = str(tmp_path / "pages.parquet")
    rin = str(tmp_path / "robots.parquet")
    spark.createDataFrame([(xml,)], "xml string").write.parquet(sin)
    spark.createDataFrame([("https://a.com/seen",)], "url string") \
        .write.parquet(pin)
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /tmp/\nCrawl-delay: 3\n")],
        "host string, robots_txt string").write.parquet(rin)
    table = str(tmp_path / "frontier")
    argv = ["frontier.py", "--sitemaps", sin, "--pages", pin,
            "--robots", rin, "--table", table, "--buckets", "2",
            "--cores", "4"]
    monkeypatch.setattr(sys, "argv", argv)
    runpy.run_path(os.path.join(ROOT, "jobs/frontier.py"), run_name="__main__")
    got = {r.url: (r.host, r.slot, r.fetch_at_us)
           for r in spark.read.parquet(table + "/data").collect()}
    # /tmp/x robots-dropped, /seen anti-joined away; a.com serialized
    # 3 s apart (Crawl-delay), b.com default delay with its own clock
    assert got == {
        "https://a.com/new1": ("a.com", 0, 0),
        "https://a.com/new2": ("a.com", 1, 3_000_000),
        "https://b.com/solo": ("b.com", 0, 0),
    }
    monkeypatch.setattr(sys, "argv", argv + ["--resume"])
    runpy.run_path(os.path.join(ROOT, "jobs/frontier.py"), run_name="__main__")
    assert {r.url for r in spark.read.parquet(table + "/data").collect()} \
        == set(got)
