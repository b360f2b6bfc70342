"""robots.txt + sitemap ingestion (sources/robots.py): grammar, group
selection, longest-match Allow/Disallow, and the Spark ingestion paths."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from web_crawler_spark.core.web import robots_allowed
from web_crawler_spark.sources.robots import (
    allowed_expr,
    load_robots_txt_dir,
    load_sitemaps,
    parse_robots_txt,
    parse_sitemap_xml,
    sitemap_locs,
)


def test_parse_basic_group():
    txt = """# comment
User-agent: *
Disallow: /private
Disallow: /tmp
Crawl-delay: 2
"""
    r = parse_robots_txt(txt)
    assert r == {"disallow": ["/private", "/tmp"], "allow": [],
                 "crawl_delay": 2.0, "sitemaps": []}


def test_specific_agent_group_wins_over_star():
    txt = """User-agent: *
Disallow: /
User-agent: wcs-crawler
Disallow: /only-this
Crawl-delay: 1
"""
    r = parse_robots_txt(txt, agent="wcs-crawler")
    assert r["disallow"] == ["/only-this"] and r["crawl_delay"] == 1.0
    other = parse_robots_txt(txt, agent="googlebot")
    assert other["disallow"] == ["/"]


def test_agent_substring_is_one_way():
    # a group named for a LONGER product token must not capture an agent
    # whose name is merely a substring of it (robotparser behavior)
    txt = """User-agent: wcs-crawler-pro
Disallow: /pro-only
User-agent: *
Disallow: /generic
"""
    r = parse_robots_txt(txt, agent="wcs-crawler")
    assert r["disallow"] == ["/generic"]


def test_stacked_agents_share_group_and_empty_disallow():
    txt = """User-agent: a
User-agent: b
Disallow:
"""
    assert parse_robots_txt(txt, agent="a")["disallow"] == []
    assert parse_robots_txt("", agent="x")["disallow"] == []


def test_allow_carveout_longest_match():
    txt = """User-agent: *
Disallow: /
Allow: /public
"""
    r = parse_robots_txt(txt)
    assert r["disallow"] == ["/"] and r["allow"] == ["/public"]
    assert not robots_allowed("/secret", r["disallow"], r["allow"])
    assert robots_allowed("/public/x", r["disallow"], r["allow"])
    # tie between Allow and Disallow of equal length → Allow wins
    assert robots_allowed("/a/b", ["/a/b"], ["/a/b"])
    # longer Disallow beats shorter Allow
    assert not robots_allowed("/public/private/x", ["/public/private"], ["/public"])
    # no matching rule → allowed
    assert robots_allowed("/elsewhere", ["/blocked"], [])


def test_allowed_expr_matches_python(spark):
    cases = [
        ("/secret", ["/"], ["/public"]),
        ("/public/x", ["/"], ["/public"]),
        ("/a/b", ["/a/b"], ["/a/b"]),
        ("/public/private/x", ["/public/private"], ["/public"]),
        ("/elsewhere", ["/blocked"], []),
        ("/anything", [], []),
    ]
    df = spark.createDataFrame(
        [(p, d, a) for p, d, a in cases],
        "path string, disallow array<string>, allow array<string>",
    )
    import pyspark.sql.functions as F

    got = [r["ok"] for r in df.select(
        allowed_expr(F.col("path"), F.col("disallow"), F.col("allow")).alias("ok")
    ).collect()]
    want = [robots_allowed(p, d, a) for p, d, a in cases]
    assert got == want


def test_sitemap_parse_and_spark_load(spark, fix_dir, tmp_path):
    xml = """<?xml version="1.0"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://h1.example/a</loc></url>
  <url><loc> http://h1.example/b </loc></url>
</urlset>
"""
    assert parse_sitemap_xml(xml) == ["http://h1.example/a", "http://h1.example/b"]
    d = tmp_path / "sm"
    d.mkdir()
    (d / "h1.example.xml").write_text(xml)
    rows = load_sitemaps(spark, str(d)).orderBy("pos").collect()
    assert [(r.host, r.url, r.pos) for r in rows] == [
        ("h1.example", "http://h1.example/a", 0),
        ("h1.example", "http://h1.example/b", 1),
    ]
    # fixture sitemaps load too and preserve per-host in-file order
    fx = load_sitemaps(spark, f"{fix_dir}/sitemaps").toPandas()
    assert len(fx) > 0
    for _, g in fx.groupby("host"):
        assert sorted(g["pos"].tolist()) == list(range(len(g)))


def test_sitemap_lines_parsed_from_robots():
    txt = """User-agent: *
Disallow: /x
Sitemap: http://h.example/sitemap.xml
"""
    assert parse_robots_txt(txt)["sitemaps"] == ["http://h.example/sitemap.xml"]


def test_spark_ingestion_matches_fixture_json(spark, fix_dir):
    import json

    with open(f"{fix_dir}/robots.json") as f:
        want = json.load(f)
    got = {r.host: (list(r.disallow), list(r.allow), float(r.crawl_delay))
           for r in load_robots_txt_dir(spark, f"{fix_dir}/robots_txt").collect()}
    assert set(got) == set(want)
    for host, (dis, allow, delay) in got.items():
        assert dis == want[host]["disallow"], host
        assert allow == want[host]["allow"], host
        assert delay == float(want[host]["crawl_delay"]), host


# XML whitespace, other ASCII whitespace, and Unicode whitespace that
# Python's \s matches and Java's does not
_WS = " \t\r\n\u00a0\u2003\u3000\u0085\x0b\x0c\x1c"
_ws_st = st.text(alphabet=_WS, max_size=3)
_body_st = st.text(
    alphabet=st.one_of(st.sampled_from(_WS), st.characters(
        exclude_characters="<", exclude_categories=("Cs",))),
    min_size=1, max_size=12)
_entry_st = st.one_of(
    st.builds(lambda a, u, b: f"<url><loc>{a}{u}{b}</loc></url>", _ws_st, _body_st, _ws_st),
    st.sampled_from(["\n  ", "<urlset>", "</urlset>", "<loc></loc>", "<loc>", "</loc>",
                     "<loc> \u00a0 </loc>", "<loc>\u2003</loc>"]),
)
_doc_st = st.lists(_entry_st, max_size=6).map("".join)


@given(docs=st.lists(_doc_st, min_size=1, max_size=8))
@settings(max_examples=25, derandomize=True, deadline=None)
def test_sitemap_locs_jvm_equals_python(spark, docs):
    """load_sitemaps' JVM extraction and the oracle's parser return
    identical <loc> lists, whatever whitespace surrounds the entries."""
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(docs)), "value": docs}))
    got = [list(r.locs) for r in
           df.select("i", sitemap_locs("value").alias("locs")).orderBy("i").collect()]
    assert got == [parse_sitemap_xml(d) for d in docs]
