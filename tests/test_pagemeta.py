"""Page-level crawl directives: robots meta union, rel-aware anchors,
hreflang alternates."""

from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.operators.pagemeta import (
    anchors_with_rel,
    hreflang_alternates,
    robots_directives,
)

P1 = (
    "<html><head>"
    '<meta charset="utf-8">'
    '<meta name="robots" content="NOINDEX, nofollow">'
    '<meta content="noarchive" name="ROBOTS">'  # reversed attr order
    '<link rel="canonical" href="http://s.com/canon">'
    '<link rel="Alternate" hreflang="EN" href="http://s.com/en">'
    '<link rel="alternate" hreflang="de" href="http://s.com/de">'
    '<link rel="stylesheet" href="app.css">'
    "</head><body>"
    '<a href="http://x.com/a">plain</a>'
    '<a rel="nofollow" href="http://x.com/b">nf</a>'
    '<a href="http://x.com/c" rel="ugc sponsored">ugc</a>'
    "<a>no href</a>"
    "</body></html>"
)
P2 = (
    "<html><head>"
    '<link rel="canonical" href="http://t.com/p2">'  # not an alternate
    "</head><body>"
    '<a href="http://x.com/d">endorsed</a>'
    "</body></html>"
)


def _pages(spark):
    return spark.createDataFrame(
        [("http://s.com/p1", P1), ("http://t.com/p2", P2)],
        "url string, html string",
    )


def test_robots_union_most_restrictive(spark):
    got = {
        r["url"]: (r["noindex"], r["nofollow"], r["noarchive"])
        for r in robots_directives(_pages(spark)).collect()
    }
    assert got["http://s.com/p1"] == (True, True, True)
    assert got["http://t.com/p2"] == (False, False, False)


def test_anchors_rel_and_page_nofollow(spark):
    got = {
        (r["url"], r["href"]): r["nofollow"]
        for r in anchors_with_rel(_pages(spark)).collect()
    }
    # p1 has page-level nofollow -> ALL its anchors are nofollow
    assert got[("http://s.com/p1", "http://x.com/a")] is True
    assert got[("http://s.com/p1", "http://x.com/b")] is True
    assert got[("http://s.com/p1", "http://x.com/c")] is True
    # p2 clean page, clean anchor
    assert got[("http://t.com/p2", "http://x.com/d")] is False
    assert len(got) == 4  # href-less anchor dropped


def test_rel_only_nofollow_without_page_directive(spark):
    page = '<html><a rel="UGC" href="u">x</a><a href="v">y</a></html>'
    df = spark.createDataFrame([("p", page)], "url string, html string")
    got = {r["href"]: r["nofollow"] for r in anchors_with_rel(df).collect()}
    assert got == {"u": True, "v": False}


def test_hreflang_alternates(spark):
    got = {
        (r["hreflang"], r["href"])
        for r in hreflang_alternates(_pages(spark)).collect()
    }
    assert got == {("en", "http://s.com/en"), ("de", "http://s.com/de")}
