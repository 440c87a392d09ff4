"""Round-15 stages: the anchor-text rollup operator, dot-segment URL
canonicalization, and the HITS tol early stop."""


def test_anchor_text_rollup(spark):
    from graftml import AnchorTextRollup
    df = spark.createDataFrame(
        [("ex.com", "Home"), ("ex.com", "home"), ("ex.com", " home "),
         ("ex.com", "docs"), ("ex.com", "blog"),
         ("ex.com", ""), (None, "orphan"), ("other.org", "x")],
        ["d", "t"])
    rows = (AnchorTextRollup(spark=spark)
            .setTargetCol("d").setTextCol("t").setOutputCol("a").setTopK(2)
            .transform(df)[0].collect())
    got = {(r["d"], r["a_text"], r["a_count"], r["a_rank"]) for r in rows}
    assert got == {
        ("ex.com", "home", 3, 1),
        ("ex.com", "blog", 1, 2),  # count-1 tie breaks ascending by text
        ("other.org", "x", 1, 1),
    }


def test_anchor_text_rollup_salted_identical(spark):
    from graftml import AnchorTextRollup
    rows = [("d%d" % (i % 3), "t%d" % (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, ["d", "t"])
    base = (AnchorTextRollup(spark=spark)
            .setTargetCol("d").setTextCol("t").setOutputCol("a").setTopK(3))
    plain = {tuple(r) for r in base.transform(df)[0].collect()}
    salted = {tuple(r) for r in base.setSaltBuckets(4).transform(df)[0].collect()}
    assert salted == plain


def test_url_canonicalizer_dot_segments(spark):
    from graftml import UrlCanonicalizer
    df = spark.createDataFrame(
        [("https://h.org/a/b/../c",),
         ("https://h.org/a/c",),
         ("https://h.org/./a/c",),
         ("https://h.org/../../a/c",),
         ("https://h.org/app#/search?q=x",)],
        ["url"])
    out = (UrlCanonicalizer(spark=spark)
           .setInputCol("url").setOutputCol("cn").transform(df)[0].collect())
    canon = [r["cn_url"] for r in out]
    # the four path spellings collapse to one canonical form
    assert canon[:4] == ["https://h.org/a/c"] * 4
    # a '?' first appearing inside the fragment fabricates no query
    assert canon[4] == "https://h.org/app"
    assert len({r["cn_key"] for r in out[:4]}) == 1


def test_robots_parse_and_filter(spark):
    from graftml import RobotsTxtParser, RobotsUrlFilter
    robots = spark.createDataFrame(
        [("h.com", "User-agent: *\nDisallow: /private/\nAllow: /private/ok/"),
         ("quiet.org", "User-agent: otherbot\nDisallow: /")],
        ["host", "robots"])
    rules = (RobotsTxtParser(spark=spark)
             .setInputCol("robots").setOutputCol("r").transform(robots)[0])
    got = {(r["host"], r["r_rule"], r["r_prefix"]) for r in rules.collect()}
    assert got == {("h.com", "disallow", "/private/"),
                   ("h.com", "allow", "/private/ok/")}
    urls = spark.createDataFrame(
        [("u1", "h.com", "/private/x"),
         ("u2", "h.com", "/private/ok/x"),
         ("u3", "quiet.org", "/anything")],
        ["url", "host", "path"])
    out = (RobotsUrlFilter(spark=spark)
           .setIdCol("url").setOutputCol("v").transform(urls, rules)[0])
    verdicts = {r["url"]: (r["v_allowed"], r["v_prefix"]) for r in out.collect()}
    assert verdicts == {"u1": (False, "/private/"),
                        "u2": (True, "/private/ok/"),
                        "u3": (True, None)}


def test_sitemap_extractor(spark):
    from graftml import SitemapExtractor
    xml = ("<urlset><url><loc> https://e.com/a </loc>"
           "<lastmod>2026-01-05</lastmod><priority>0.8</priority></url>"
           "<url><lastmod>2026-02-02</lastmod></url></urlset>"
           "<sitemapindex><sitemap><loc>https://e.com/s1.xml</loc></sitemap>"
           "</sitemapindex>")
    df = spark.createDataFrame([(xml,)], ["xml"])
    rows = (SitemapExtractor(spark=spark)
            .setInputCol("xml").setOutputCol("sm").transform(df)[0].collect())
    got = [(r["sm_kind"], r["sm_loc"], r["sm_lastmod"], r["sm_priority"])
           for r in rows]
    # the loc-less url entry drops; loc whitespace trims
    assert got == [("url", "https://e.com/a", "2026-01-05", 0.8),
                   ("sitemap", "https://e.com/s1.xml", None, None)]


def test_bfs_distances(spark):
    from graftml.functions import bfs
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (7, 8)], ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["id"])
    got = {r["id"]: r["distance"] for r in bfs(edges, seeds).collect()}
    # 2 is one hop via the 0->2 shortcut; 7/8 unreached emit no row
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}
    und = {r["id"]: r["distance"]
           for r in bfs(edges, spark.createDataFrame([(8,)], ["id"]),
                        undirected=True).collect()}
    assert und == {8: 0, 7: 1}


def test_warc_parser(spark):
    from graftml import WarcParser
    crlf = "\r\n"
    warc = ("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
            "WARC-Target-URI: <https://e.com/a>" + crlf + crlf +
            "HTTP/1.1 200 OK" + crlf + crlf +
            "<html>hi</html>" + crlf + crlf +
            "WARC/1.0" + crlf + "WARC-Type: metadata" + crlf + crlf +
            "k: v" + crlf + crlf)
    df = spark.createDataFrame([(warc,)], ["warc"])
    rows = (WarcParser(spark=spark)
            .setInputCol("warc").setOutputCol("w").transform(df)[0]
            .orderBy("w_pos").collect())
    got = [(r["w_pos"], r["w_type"], r["w_uri"], r["w_body"]) for r in rows]
    assert got == [(1, "response", "https://e.com/a", "<html>hi</html>"),
                   (2, "metadata", None, "k: v")]


def test_hits_tol_early_stop(spark):
    from pyspark.sql import DataFrame
    from graftml.functions import hits as hits_fn

    def scores(df):
        return {r["id"]: (r["hub"], r["authority"]) for r in df.collect()}

    def hits(edges, num_iter, tol):
        # the JVM result carries the rounds next to the frame
        res = spark._jvm.graft.graph.Hits.run(
            edges._jdf, "src", "dst", num_iter, float(tol), "", "id", "hub",
            "authority")
        df = DataFrame(res.state(), spark)
        out = scores(df)
        df.unpersist()
        return out, res.rounds()
    # uniform complete-bipartite graph: fixed point from iteration 2
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], ["src", "dst"])
    out, last = hits(edges, 20, 1e-9)
    assert 2 <= last < 20
    full, rounds = hits(edges, 20, 0.0)
    assert rounds == 20
    for v, (h, a) in out.items():
        assert abs(h - full[v][0]) < 1e-12 and abs(a - full[v][1]) < 1e-12
    # the wrapper forwards tol: on a graph still moving when the early
    # stop fires, its scores are the JVM tol run's and not the full run's
    moving = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (2, 5), (5, 6), (6, 4)],
        ["src", "dst"])
    early, last = hits(moving, 30, 1e-3)
    assert last < 30
    wrapped = hits_fn(moving, num_iter=30, tol=1e-3)
    assert scores(wrapped) == early
    wrapped.unpersist()
    untol = hits_fn(moving, num_iter=30)
    assert scores(untol) != early
    untol.unpersist()
