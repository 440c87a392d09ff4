package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LinkGraphExtractorSpec extends SparkSpec {

  private def extract(url: String, html: String): Seq[(String, String, String, String)] = {
    import spark.implicits._
    val df = Seq((url, html)).toDF("url", "html")
    new LinkGraphExtractor().setInputCol("html").setUrlCol("url").setOutputCol("lk")
      .transform(df).head
      .select("lk_href", "lk_url", "lk_host", "lk_domain")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSeq
  }

  test("every resolution class against a deep page URL") {
    val got = extract(
      "https://u@www.news.example.co:8443/a/b/page.html?q=1#top",
      """<p><a href="https://other.org/x">abs</a>
        |<a href="//cdn.net/l.js">pr</a>
        |<a href="/root.html">root</a>
        |<a href="img/p.html">rel</a>
        |<a href="mailto:a@b.c">m</a>
        |<a href="#frag">f</a>
        |<a href="">e</a></p>""".stripMargin)
    assert(got.toSet == Set(
      ("https://other.org/x", "https://other.org/x", "other.org", "other.org"),
      // userinfo stripped, PORT KEPT in the resolution base (the page's
      // origin); lk_host strips the port; dir of /a/b/page.html is /a/b/
      ("//cdn.net/l.js", "https://cdn.net/l.js", "cdn.net", "cdn.net"),
      ("/root.html", "https://www.news.example.co:8443/root.html", "www.news.example.co", "example.co"),
      ("img/p.html", "https://www.news.example.co:8443/a/b/img/p.html", "www.news.example.co", "example.co")))
  }

  test("single-quoted hrefs, attribute order, and case-insensitive tag all match") {
    val got = extract("http://h.com/",
      """<A HREF='/up'>u</A><a class="z" id='k' href='x.html'>r</a>""")
    assert(got.toSet == Set(
      ("/up", "http://h.com/up", "h.com", "h.com"),
      ("x.html", "http://h.com/x.html", "h.com", "h.com")))
  }

  test("path-less page URL resolves relative hrefs against '/'") {
    val got = extract("https://h.org", """<a href="p.html">p</a>""")
    assert(got == Seq(("p.html", "https://h.org/p.html", "h.org", "h.org")))
  }

  test("rule-6 '../' hrefs emit literal dot segments; UrlCanonicalizer composes them away") {
    val got = extract("https://h.org/a/b/page.html", """<a href="../c/d.html">up</a>""")
    assert(got == Seq(("../c/d.html", "https://h.org/a/b/../c/d.html", "h.org", "h.org")))
    import spark.implicits._
    val df = Seq("https://h.org/a/b/../c/d.html", "https://h.org/a/c/d.html").toDF("url")
    val keys = new UrlCanonicalizer().setInputCol("url").setOutputCol("c")
      .transform(df).head.select("c_url", "c_key").distinct().collect()
    assert(keys.length == 1 && keys.head.getString(0) == "https://h.org/a/c/d.html")
  }

  test("non-hierarchical schemes and fragments drop (or survive with keepUnresolved)") {
    import spark.implicits._
    val df = Seq(("https://h.org/",
      """<a href="javascript:void(0)">j</a><a href="tel:123">t</a><a href="/ok">o</a>"""))
      .toDF("url", "html")
    val kept = new LinkGraphExtractor().setInputCol("html").setUrlCol("url")
      .setOutputCol("lk").setKeepUnresolved(true)
      .transform(df).head
    assert(kept.count() == 3)
    assert(kept.where(col("lk_url").isNull).count() == 2)
    val dropped = new LinkGraphExtractor().setInputCol("html").setUrlCol("url")
      .setOutputCol("lk").transform(df).head
    assert(dropped.count() == 1)
  }

  test("anchor text rides the same matches: trimmed, markup-empty, dropped-with-its-anchor") {
    import spark.implicits._
    val df = Seq(("https://h.org/",
      """<a href="/plain"> Click Here </a>
        |<a href="/markup"><b>bold</b></a>
        |<a href='/single'>sq</a>
        |<a href="mailto:x@y.z">mail text</a>
        |<a href="/trunc""".stripMargin)).toDF("url", "html")
    val got = new LinkGraphExtractor().setInputCol("html").setUrlCol("url")
      .setOutputCol("lk").transform(df).head
      .select("lk_href", "lk_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // trimmed text; nested markup yields empty; single-quote pass has
    // text too; the mailto anchor (and its text) dropped with the row;
    // the opening tag truncated before '>' never matches
    assert(got == Map("/plain" -> "Click Here", "/markup" -> "", "/single" -> "sq"))
  }

  test("hostEdges builds the (src_host, dst_host) list with multiplicity and self-edges") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.com/i.html", """<a href="https://b.com/">b</a><a href="/self">s</a><a href="https://b.com/2">b2</a>"""),
      ("https://b.com/", """<a href="https://a.com/">a</a>"""))
      .toDF("url", "html")
    val edges = LinkGraphExtractor.hostEdges(pages)
      .groupBy("src_host", "dst_host").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(edges == Map(
      ("a.com", "b.com") -> 2L, ("a.com", "a.com") -> 1L, ("b.com", "a.com") -> 1L))
  }

  test("fan-out composes with PageRank: extracted host graph ranks the link target highest") {
    import spark.implicits._
    // star: three hosts all link to hub.org; hub links to one of them.
    // The hub<->s1 feedback loop makes the power iteration OSCILLATE
    // with amplitude ~0.85^k (at k=10 that is ~0.04, comparable to the
    // converged hub-s1 margin of 0.035, and the even-iteration phase
    // lands s1-heavy) — 30 iterations damp it to ~0.0015
    val pages = Seq(
      ("https://s1.com/", """<a href="https://hub.org/">h</a>"""),
      ("https://s2.com/", """<a href="https://hub.org/">h</a>"""),
      ("https://s3.com/", """<a href="https://hub.org/">h</a>"""),
      ("https://hub.org/", """<a href="https://s1.com/">s</a>"""))
      .toDF("url", "html")
    val ranks = graft.graph.PageRank
      .run(LinkGraphExtractor.hostEdges(pages), "src_host", "dst_host", 0.85, 30).state
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // converged fixpoint: hub 0.4797, s1 0.4452, s2 = s3 = teleport 0.0375
    assert(ranks("hub.org") > ranks("s1.com") && ranks("s1.com") > ranks("s2.com"))
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
  }
}
