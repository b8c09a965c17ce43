package graft.ops

import graft.SparkTestBase
import graft.gen.InputTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LinkOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val base = "https://h.example/html/doc1"

  test("resolveUrl: absolute, protocol-relative, root-relative, path-relative, dot segments") {
    assert(LinkOps.resolveUrl(base, "https://x.com/p") == Some("https://x.com/p"))
    assert(LinkOps.resolveUrl(base, "http://x.com/p?q=1#f") == Some("http://x.com/p?q=1"))
    assert(LinkOps.resolveUrl(base, "//cdn.x.com/a") == Some("https://cdn.x.com/a"))
    assert(LinkOps.resolveUrl(base, "/about") == Some("https://h.example/about"))
    assert(LinkOps.resolveUrl(base, "page2") == Some("https://h.example/html/page2"))
    assert(LinkOps.resolveUrl(base, "./same") == Some("https://h.example/html/same"))
    assert(LinkOps.resolveUrl(base, "../up") == Some("https://h.example/up"))
    assert(LinkOps.resolveUrl(base, "../../../up") == Some("https://h.example/up"))
    assert(LinkOps.resolveUrl(base, "a/b/../c") == Some("https://h.example/html/a/c"))
    assert(LinkOps.resolveUrl(base, "dir/") == Some("https://h.example/html/dir/"))
    assert(LinkOps.resolveUrl("https://h.example", "a") == Some("https://h.example/a"))
    assert(LinkOps.resolveUrl(base, "/p?a=1&b=2#frag") == Some("https://h.example/p?a=1&b=2"))
  }

  test("resolveUrl: fragment-only, empty, and non-http(s) schemes resolve to None") {
    assert(LinkOps.resolveUrl(base, "#frag").isEmpty)
    assert(LinkOps.resolveUrl(base, "").isEmpty)
    assert(LinkOps.resolveUrl(base, "mailto:a@b.c").isEmpty)
    assert(LinkOps.resolveUrl(base, "javascript:void(0)").isEmpty)
    assert(LinkOps.resolveUrl(base, "data:text/plain,x").isEmpty)
    assert(LinkOps.resolveUrl(base, "ftp://h/f").isEmpty)
  }

  test("outlinksOf: anchors in document order, resolved; non-HTML payloads yield none") {
    val html = ("<html><body><a href=\"/a\">x</a><p>t <a href='https://z.example/p#s'>y</a></p>" +
      "<div><a href=\"sub/q\">n</a><a name=\"no-href\">skip</a><a href=\"#only\">skip</a></div>" +
      "</body></html>").getBytes("UTF-8")
    assert(LinkOps.outlinksOf(base, html) == Seq(
      "https://h.example/a", "https://z.example/p", "https://h.example/html/sub/q"))
    assert(LinkOps.outlinksOf(base, "%PDF-1.4 not html".getBytes("UTF-8")).isEmpty)
    assert(LinkOps.outlinksOf(base, Array[Byte](0x1f, 0x2e, 0x00, 0x7f)).isEmpty)
  }

  test("anchorsOf: visible text normalized (entities, nesting, ws), empty for image links") {
    val html = ("<html><body>" +
      "<a href=\"/a\"> Read &amp;  more\n<b>here</b></a>" +
      "<a href='https://z.example/p'><img src=\"i.png\"></a>" +
      "<a href=\"mailto:x@y.z\">skip</a>" +
      "<a href=\"/s\"><script>var x=1;</script>vis</a>" +
      "</body></html>").getBytes("UTF-8")
    assert(LinkOps.anchorsOf(base, html) == Seq(
      ("https://h.example/a", "Read & more here"),
      ("https://z.example/p", ""),
      ("https://h.example/s", "vis")))
    assert(LinkOps.anchorsOf(base, "%PDF-1.4 not html".getBytes("UTF-8")).isEmpty)
    // targets always agree with outlinksOf
    assert(LinkOps.anchorsOf(base, html).map(_._1) == LinkOps.outlinksOf(base, html))
  }

  test("anchorsOf: text capped at MaxAnchorChars without splitting a surrogate pair") {
    val long = "x" * 300
    val html = s"""<html><body><a href="/a">$long</a></body></html>""".getBytes("UTF-8")
    val Seq((_, t1)) = LinkOps.anchorsOf(base, html)
    assert(t1 == "x" * LinkOps.MaxAnchorChars)
    // an astral char (surrogate pair) straddling the cap backs off one char
    val pre = "y" * (LinkOps.MaxAnchorChars - 1)
    val html2 = s"""<html><body><a href="/a">$pre😀zzz</a></body></html>""".getBytes("UTF-8")
    val Seq((_, t2)) = LinkOps.anchorsOf(base, html2)
    assert(t2 == pre && t2.length == LinkOps.MaxAnchorChars - 1)
  }

  test("anchorSummary: per-target counts, top text by (count desc, text asc), source hosts") {
    val anchors = Seq(
      ("https://a.example/1", "https://t.example/p", "home"),
      ("https://a.example/2", "https://t.example/p", "home"),
      ("https://b.example/1", "https://t.example/p", "about"),
      ("https://b.example/2", "https://t.example/p", "about"),
      ("https://a.example/1", "https://t.example/q", "beta"),
      ("https://a.example/1", "https://t.example/q", "alpha"),
      ("https://a.example/3", "https://t.example/q", "alpha")
    ).toDF("src", "dst", "anchor")
    val out = LinkOps.anchorSummary(anchors).orderBy("dst").collect()
    assert(out.length == 2)
    val p = out(0)
    // tie at count 2: 'about' < 'home' lexicographically
    assert(p.getString(0) == "https://t.example/p" && p.getLong(1) == 4 &&
      p.getLong(2) == 2 && p.getString(3) == "about" && p.getLong(4) == 2 &&
      p.getLong(5) == 2)
    val q = out(1)
    assert(q.getString(0) == "https://t.example/q" && q.getLong(1) == 3 &&
      q.getLong(2) == 2 && q.getString(3) == "alpha" && q.getLong(4) == 2 &&
      q.getLong(5) == 1)
  }

  test("metaRobots: case-insensitive name, comma/ws-split directives; filterNoindex honors noindex/none") {
    def html(meta: String) =
      s"<html><head>$meta</head><body><p>x</p></body></html>".getBytes("UTF-8")
    assert(LinkOps.metaRobots(html("""<meta name="robots" content="noindex, nofollow">""")) ==
      Seq("noindex", "nofollow"))
    assert(LinkOps.metaRobots(html("""<meta name="ROBOTS" content="NOARCHIVE NOINDEX">""")) ==
      Seq("noarchive", "noindex"))
    assert(LinkOps.metaRobots(html("""<meta name="viewport" content="width=1">""")).isEmpty)
    assert(LinkOps.metaRobots(html("")).isEmpty)
    assert(LinkOps.metaRobots("%PDF-1.4".getBytes("UTF-8")).isEmpty)
    assert(LinkOps.metaRobots(null).isEmpty)
    val docs = Seq(
      ("u1", html("")),
      ("u2", html("""<meta name="robots" content="noindex">""")),
      ("u3", html("""<meta name="robots" content="none">""")),
      ("u4", html("""<meta name="robots" content="nofollow">""")),
      ("u5", "%PDF-1.4 raw".getBytes("UTF-8")), // non-HTML kept
      ("u6", null)                              // null payload kept
    ).toDF("url", "html")
    val kept = LinkOps.filterNoindex(docs).select("url")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("u1", "u4", "u5", "u6"))
  }

  test("extractLinks over the synthetic corpus: html docs carry cross-host aside outlinks") {
    val links = LinkOps.extractLinks(InputTable.generate(spark, 80L, seed = 42L))
    val rows = links.collect()
    assert(rows.nonEmpty)
    // every dst is an absolute http(s) url on an .example host
    assert(rows.forall(r => r.getString(1).matches("https://[a-z0-9]+\\.example/.*")))
    // the deterministic aside outlinks produce cross-host edges
    val hg = LinkOps.hostGraph(links).collect()
    assert(hg.nonEmpty && hg.forall(r => r.getString(0) != r.getString(1)))
  }

  test("filterBlockedHosts: equals and subdomain matches drop, lookalike siblings survive") {
    val docs = Seq(
      "https://bad.example/p",        // exact match
      "https://a.bad.example/p",      // subdomain
      "https://deep.a.bad.example/p", // deeper subdomain
      "https://notbad.example/p",     // sibling — 'bad.example' is NOT a dot-suffix
      "https://good.example/p"
    ).toDF("url")
    val blk = Seq("bad.example").toDF("domain")
    val kept = LinkOps.filterBlockedHosts(docs, "url", blk)
      .collect().map(_.getString(0)).sorted
    assert(kept.toSeq == Seq("https://good.example/p", "https://notbad.example/p"))
  }

  test("outlinksOf: never throws on mutated payloads (seeded fuzz, bounded time)") {
    import graft.gen.InputGen
    val seeds = (0L until 48L).map(i => InputGen.generate(42L, i).html)
    var checked = 0
    seeds.zipWithIndex.foreach { case (payload, si) =>
      val rng = new InputGen.Rng(11L, si.toLong, 5L)
      (0 until 20).foreach { _ =>
        val b =
          if (payload.isEmpty) payload
          else rng.nextInt(3) match {
            case 0 => payload.take(1 + rng.nextInt(payload.length))
            case 1 =>
              val out = payload.clone()
              (0 until 1 + rng.nextInt(8)).foreach { _ =>
                val i = rng.nextInt(out.length)
                out(i) = (out(i) ^ (1 << rng.nextInt(8))).toByte
              }
              out
            case _ =>
              val at = rng.nextInt(payload.length)
              payload.take(at) ++
                Array.fill(1 + rng.nextInt(32))(rng.nextInt(256).toByte) ++
                payload.drop(at)
          }
        val t0 = System.nanoTime()
        val links = LinkOps.outlinksOf(s"https://fuzz.example/doc$si", b) // must not throw
        links.foreach(u => assert(u.startsWith("http"), u))
        val anchors = LinkOps.anchorsOf(s"https://fuzz.example/doc$si", b) // must not throw
        assert(anchors.map(_._1) == links)
        anchors.foreach { case (_, a) => assert(a.length <= LinkOps.MaxAnchorChars) }
        LinkOps.metaRobots(b).foreach(t => assert(t.nonEmpty)) // must not throw
        assert((System.nanoTime() - t0) / 1e6 < 10000)
        checked += 1
      }
    }
    assert(checked >= 900)
  }

  test("pageRank: hand-computed integral ranks on a 3-node graph, 2 iterations") {
    // a->b, b->a, a->c (+ a duplicate and a self-loop that must be dropped)
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "b"), ("c", "c"))
      .toDF("src_host", "dst_host")
    val r = LinkOps.pageRank(edges, iterations = 2).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    // iter1: a=150000+850000=1000000, b=c=150000+(85*500000)DIV100=575000
    // iter2: a=150000+(85*575000)DIV100=638750, b=c=575000
    assert(r.toSeq == Seq(("a", 638750L), ("b", 575000L), ("c", 575000L)))
  }

  test("pageRank: dangling mass is dropped, teleport floor holds for sink-only nodes") {
    val edges = Seq(("a", "b")).toDF("src_host", "dst_host") // b is dangling
    val r = LinkOps.pageRank(edges, iterations = 3).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    // a never receives: rank_a = 150000 after round 1 and stays
    // b receives 85% of a's rank: r1 = 150000+850000; r2 = 150000+(85*150000)DIV100
    assert(r.toSeq == Seq(("a", 150000L), ("b", 150000L + 85L * 150000L / 100L)))
  }

  test("parseFeed: RSS void-link rewrite, Atom href, entity titles, dates, scheme filter") {
    def ep(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
    val rss = """<?xml version="1.0"?><rss version="2.0"><channel>
      |<title>chan</title>
      |<item><title>A &amp; B</title><link>https://h.example/a</link>
      |  <pubDate>Mon, 15 Jul 2024 08:30:00 GMT</pubDate></item>
      |<item><title>No date</title><link>https://h.example/b</link></item>
      |<item><title>Skip</title><link>ftp://h.example/c</link></item>
      |</channel></rss>""".stripMargin
    val r = LinkOps.parseFeed(rss).map(x => (x._1, x._2, x._3.getTime))
    assert(r == Seq(
      ("https://h.example/a", "A & B", ep("2024-07-15T08:30:00Z")),
      ("https://h.example/b", "No date", 0L))) // ftp dropped; no date -> epoch 0
    val atom = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
      |<title>f</title>
      |<entry><title>X</title><link href="https://h.example/x"/>
      |  <updated>2024-07-16T10:00:00+02:00</updated></entry>
      |<entry><title>Rel</title><link href="/relative"/></entry>
      |</feed>""".stripMargin
    val a = LinkOps.parseFeed(atom).map(x => (x._1, x._2, x._3.getTime))
    assert(a == Seq( // relative href dropped (absolute-only, like sitemap)
      ("https://h.example/x", "X", ep("2024-07-16T08:00:00Z"))))
    assert(LinkOps.parseFeed("not xml at all <<<").isEmpty) // never throws
  }

  test("asOfJoin: latest-at-or-before per key, equal-ts tie matches, miss yields nulls") {
    val versions = Seq(
      ("u1", 100L, "v1"), ("u1", 200L, "v2"), ("u1", 300L, "v3"),
      ("u2", 500L, "w1")).toDF("key", "vts", "body")
    val probes = Seq(
      ("u1", 250L), // between v2 and v3 -> v2
      ("u1", 200L), // exactly at v2 -> v2 (at-or-before)
      ("u1", 99L),  // before everything -> miss
      ("u1", 999L), // after everything -> v3 (latest, not just any)
      ("u2", 600L), // other key isolated -> w1
      ("u3", 100L)) // unknown key -> miss
      .toDF("key", "pts")
    val r = LinkOps.asOfJoin(probes, versions, "key", "pts", "vts", Seq("body"))
      .orderBy("key", "pts").collect()
      .map(x => (x.getString(0), x.getLong(1),
        if (x.isNullAt(2)) -1L else x.getLong(2),
        if (x.isNullAt(3)) "" else x.getString(3)))
    assert(r.toSeq == Seq(
      ("u1", 99L, -1L, ""),
      ("u1", 200L, 200L, "v2"),
      ("u1", 250L, 200L, "v2"),
      ("u1", 999L, 300L, "v3"),
      ("u2", 600L, 500L, "w1"),
      ("u3", 100L, -1L, "")))
    // probe columns beyond (key, ts) ride through untouched
    val withExtra = probes.withColumn("obs", concat(col("key"), lit("#"), col("pts")))
    val r2 = LinkOps.asOfJoin(withExtra, versions, "key", "pts", "vts", Seq("body"))
    assert(r2.columns.toSeq == Seq("key", "pts", "obs", "version_ts", "body"))
    assert(r2.filter(col("obs") === "u1#250").select("body").head().getString(0) == "v2")
  }

  test("trustRank: trust flows from seeds only, unreachable nodes stay exactly 0") {
    // a->b, b->c; seed = {a}. Hand ladder:
    // r0: a=1e6 b=0 c=0
    // r1: a=150000 (seed teleport, no in), b=(85*1e6)DIV100=850000, c=0
    // r2: a=150000, b=(85*150000)DIV100=127500, c=(85*850000)DIV100=722500
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src_host", "dst_host")
    val seeds = Seq("a").toDF("node")
    val r = LinkOps.trustRank(edges, seeds, iterations = 2).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(r.toSeq == Seq(("a", 150000L), ("b", 127500L), ("c", 722500L)))
    // spam island d<->e is unreachable from the seed: trust exactly 0
    // however densely it interlinks; the seeded component is unaffected
    val withIsland = edges.unionByName(
      Seq(("d", "e"), ("e", "d")).toDF("src_host", "dst_host"))
    val r2 = LinkOps.trustRank(withIsland, seeds, iterations = 4).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(r2("d") == 0L && r2("e") == 0L && r2("a") == 150000L)
  }

  test("trustRank seeded with every node equals pageRank row for row") {
    val graphs = Seq(
      Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "b"), ("c", "c")),
      Seq(("a", "b")),
      Seq(("a", "b"), ("b", "c"), ("d", "e"), ("e", "d")),
      Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "b"), ("c", "c")))
    for (g <- graphs; iterations <- Seq(1, 3)) {
      val edges = g.toDF("src_host", "dst_host")
      val everyNode = edges.select(col("src_host").as("node"))
        .union(edges.select(col("dst_host").as("node")))
      val pr = LinkOps.pageRank(edges, iterations = iterations).orderBy("node")
        .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
      val tr = LinkOps.trustRank(edges, everyNode, iterations = iterations)
        .select(col("node"), col("trust").as("rank")).orderBy("node")
        .collect().map(x => (x.getString(0), x.getLong(1))).toSeq
      assert(tr == pr, s"graph $g, $iterations iterations")
    }
  }

  test("hits: hand-computed integral hub/authority ladder on a 3-node graph") {
    // a->b, a->c, b->c (+ a duplicate and a self-loop that must be dropped)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "b"), ("c", "c"))
      .toDF("src_host", "dst_host")
    // round 1: auth_raw b=1e6, c=2e6 -> auth b=500000, c=1e6, a=0
    //          hub_raw  a=1.5e6, b=1e6 -> hub a=1e6, b=666666, c=0
    val r1 = LinkOps.hits(edges, iterations = 1).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r1.toSeq == Seq(("a", 1000000L, 0L), ("b", 666666L, 500000L),
      ("c", 0L, 1000000L)))
    // round 2: auth_raw b=1e6, c=1666666 -> auth b=600000, c=1e6
    //          hub_raw  a=1.6e6, b=1e6   -> hub a=1e6, b=625000
    val r2 = LinkOps.hits(edges, iterations = 2).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r2.toSeq == Seq(("a", 1000000L, 0L), ("b", 625000L, 600000L),
      ("c", 0L, 1000000L)))
  }

  test("hits: pure hub holds auth 0, pure authority holds hub 0, fixpoint is stable") {
    val edges = Seq(("a", "b")).toDF("src_host", "dst_host")
    val r = LinkOps.hits(edges, iterations = 4).orderBy("node")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(("a", 1000000L, 0L), ("b", 0L, 1000000L)))
  }

  test("registeredDomain: eTLD+1 branches — multi-label suffix, plain TLD, single label") {
    val cases = Seq(
      "blog.foo.co.uk" -> "foo.co.uk",       // listed 2-label suffix
      "a.b.foo.co.uk" -> "foo.co.uk",        // deep subdomain, same rollup
      "foo.co.uk" -> "foo.co.uk",            // already eTLD+1
      "www.example.com" -> "example.com",    // plain TLD
      "example.com" -> "example.com",
      "user.github.io" -> "user.github.io",  // private-section suffix
      "deep.user.github.io" -> "user.github.io",
      "localhost" -> "localhost",            // single label: itself
      "co.uk" -> "co.uk")                    // bare suffix: last-2 branch
    val df = cases.map(_._1).toDF("host")
      .select(col("host"), LinkOps.registeredDomain(col("host")).as("rd"))
    val got = df.as[(String, String)].collect().toMap
    cases.foreach { case (h, want) => assert(got(h) == want, s"host $h") }
  }

  test("crawlTraps: digit-collapsed template, trap vs legit-large vs below-floor") {
    val rows = ((1 to 25).map(i => (s"https://t.example/cal?d=2026$i", "same page")) ++
      (1 to 25).map(i => (s"https://ok.example/a/$i", s"article $i")) ++
      Seq(("https://few.example/p?x=1", "same page"),
        ("https://few.example/p?x=2", "same page"))).toDF("url", "text")
    val r = LinkOps.crawlTraps(rows, "url", "text", minUrls = 20L)
      .orderBy("host").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getBoolean(5)))
    assert(r.toSeq == Seq(
      ("few.example", "/p?x=N", 2L, 1L, 500000L, false),   // below url floor
      ("ok.example", "/a/N", 25L, 25L, 1000000L, false),   // large but legit
      ("t.example", "/cal?d=N", 25L, 1L, 40000L, true)))   // the trap
  }

  test("crawlDelta: new/deleted/changed/unchanged, digest join carries no payload") {
    val a = Seq(("u1", "t1"), ("u2", "t2"), ("u3", "t3")).toDF("url", "text")
    val b = Seq(("u2", "t2"), ("u3", "t3-edited"), ("u4", "t4")).toDF("url", "text")
    val r = LinkOps.crawlDelta(a, b).as[(String, String)].collect().toMap
    assert(r == Map("u1" -> "deleted", "u2" -> "unchanged",
      "u3" -> "changed", "u4" -> "new"))
    // identical snapshots: everything unchanged
    val same = LinkOps.crawlDelta(a, a).as[(String, String)].collect().toMap
    assert(same == Map("u1" -> "unchanged", "u2" -> "unchanged", "u3" -> "unchanged"))
    // plan: the join's shuffled children project only (url, digest) —
    // the text column must be pruned before the exchange
    val plan = LinkOps.crawlDelta(a, b).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    plan.collect { case j: Join => j }.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        val attrs = side.output.map(_.name).toSet
        assert(!attrs.contains("text"), s"payload reached the join: $attrs")
      }
    }
  }

  test("pageMetaOf: first-wins walk, entity/ws normalization, rel token list, resolution") {
    def meta(u: String, h: String) =
      LinkOps.pageMetaOf(u, h.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // entities + whitespace collapse in title and description; first
    // canonical wins over a later declaration
    assert(meta("https://h.example/a",
      "<html><head><title> A&amp;B   C </title>" +
        "<meta name=\"DESCRIPTION\" content=\" d&amp;e   f \">" +
        "<link rel=\"canonical\" href=\"/x\">" +
        "<link rel=\"canonical\" href=\"/wrong\"></head><body></body></html>") ==
      ("A&B C", "d&e f", "https://h.example/x"))
    // multi-token case-insensitive rel; path-relative href + fragment strip
    assert(meta("https://h.example/amp/p",
      "<html><head><link rel=\"CANONICAL alternate\" href=\"../c#top\"></head></html>") ==
      ("", "", "https://h.example/c"))
    // stylesheet rel must not match; mailto: canonical is unresolvable;
    // first <title> wins over a second
    assert(meta("https://h.example/a",
      "<html><head><title>T1</title><title>T2</title>" +
        "<link rel=\"stylesheet\" href=\"/css\">" +
        "<link rel=\"canonical\" href=\"mailto:x@y\"></head></html>") ==
      ("T1", "", ""))
    // non-HTML payloads carry no metadata; broken bytes never throw
    assert(meta("https://h.example/p", "%PDF-1.4 garbage") == ("", "", ""))
    assert(LinkOps.pageMetaOf("https://h.example/p", null) == ("", "", ""))
    assert(meta("https://h.example/p", "<html><head><<<") == ("", "", ""))
  }

  test("canonicalConsolidate: self-first pick, min-url fallback, undeclared singleton groups") {
    val meta = Seq(
      // group keyed by /canon/a, canonical page itself present → kept
      ("https://p.example/canon/a", "https://p.example/canon/a"),
      ("https://p.example/canon/a?utm=x", "https://p.example/canon/a"),
      ("https://p.example/zz-amp", "https://p.example/canon/a"),
      // group whose target is NOT a member → min url kept
      ("https://p.example/mirror/d", "https://elsewhere.example/d0"),
      ("https://p.example/mirror/e", "https://elsewhere.example/d0"),
      // no declaration → own group
      ("https://p.example/plain/f", ""))
      .toDF("url", "canonical")
      .withColumn("title", lit("")).withColumn("description", lit(""))
    val r = LinkOps.canonicalConsolidate(meta).orderBy("canonical_url")
      .as[(String, String, Long)].collect().toSeq
    assert(r == Seq(
      ("https://elsewhere.example/d0", "https://p.example/mirror/d", 2L),
      ("https://p.example/canon/a", "https://p.example/canon/a", 3L),
      ("https://p.example/plain/f", "https://p.example/plain/f", 1L)))
    // plan: only (key, url) reach the aggregate — title/description (the
    // stand-ins for any wide payload column) must be pruned before the
    // exchange
    val plan = LinkOps.canonicalConsolidate(meta).queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    plan.collect { case a: Aggregate => a }.foreach { a =>
      val attrs = a.child.output.map(_.name).toSet
      assert(!attrs.contains("title") && !attrs.contains("description"),
        s"payload columns reached the aggregate: $attrs")
    }
  }

  test("base href: first base rebases links document-wide (incl. earlier ones) and canonical") {
    def links(u: String, h: String) =
      LinkOps.outlinksOf(u, h.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // absolute base; a link BEFORE the base element is rebased too; a
    // second base is ignored (first-base rule)
    assert(links("https://h.example/dir/p",
      "<html><body><a href=\"early\">e</a>" +
        "<base href=\"https://cdn.example/sub/\">" +
        "<base href=\"https://wrong.example/\">" +
        "<a href=\"x\">x</a><a href=\"/y\">y</a></body></html>") ==
      Seq("https://cdn.example/sub/early", "https://cdn.example/sub/x",
        "https://cdn.example/y"))
    // relative base resolves against the page url first
    assert(links("https://h.example/dir/p",
      "<html><head><base href=\"/en/\"></head><body><a href=\"x\">x</a></body></html>") ==
      Seq("https://h.example/en/x"))
    // unresolvable base (mailto:) falls back to the page url
    assert(links("https://h.example/dir/p",
      "<html><head><base href=\"mailto:x@y\"></head><body><a href=\"x\">x</a></body></html>") ==
      Seq("https://h.example/dir/x"))
    // canonical honors the base too
    val m = LinkOps.pageMetaOf("https://h.example/dir/p",
      ("<html><head><base href=\"https://cdn.example/sub/\">" +
        "<link rel=\"canonical\" href=\"c\"></head></html>")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(m == ("", "", "https://cdn.example/sub/c"))
  }

  test("alternatesOf: rel-token match, lowercased hreflang, base rebase, unresolvable dropped, dedupe") {
    val html = ("<html><head>" +
      "<base href=\"https://ml.example/sub/\">" +
      "<link rel=\"ALTERNATE stylesheet\" hreflang=\"EN\" href=\"a\">" +
      "<link rel=\"alternate\" hreflang=\"nl-BE\" href=\"/b\">" +
      "<link rel=\"alternate\" hreflang=\"de\" href=\"mailto:x@y\">" +
      "<link rel=\"alternate\" type=\"application/rss+xml\" href=\"/feed\">" + // no hreflang
      "<link rel=\"alternate\" hreflang=\"en\" href=\"a\">" + // dup collapses
      "</head></html>").getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(LinkOps.alternatesOf("https://ml.example/dir/p", html) ==
      Seq(("en", "https://ml.example/sub/a"), ("nl-be", "https://ml.example/b")))
    assert(LinkOps.alternatesOf("https://x.example/p",
      "%PDF-1.4 not html".getBytes(java.nio.charset.StandardCharsets.UTF_8)).isEmpty)
  }

  test("hreflangClusters: asymmetric + chain closure, min representative, langs aggregation") {
    val alts = Seq(
      // asymmetric pair: only A declares B
      ("https://s.example/a", "en", "https://s.example/b"),
      ("https://s.example/a", "en", "https://s.example/a"), // self
      // chain: c -> d -> e
      ("https://s.example/c", "kn", "https://s.example/d"),
      ("https://s.example/d", "bo", "https://s.example/e"),
      // singleton self-reference
      ("https://s.example/z", "en", "https://s.example/z"))
      .toDF("url", "hreflang", "alt_url")
    val out = LinkOps.hreflangClusters(alts)
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("https://s.example/a", "https://s.example/a", "en"),
      ("https://s.example/b", "https://s.example/a", "en"),
      ("https://s.example/c", "https://s.example/c", ""),
      ("https://s.example/d", "https://s.example/c", "kn"),
      ("https://s.example/e", "https://s.example/c", "bo"),
      ("https://s.example/z", "https://s.example/z", "en")))
  }

  test("parseSitemap: urlset entries, lastmod formats, index files, entities, junk safe") {
    val xml =
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<url><loc> https://h.example/a </loc><lastmod>2024-03-05</lastmod></url>\n" +
        "<url><loc>https://h.example/q?a=1&amp;b=2</loc>" +
        "<lastmod>2025-06-15T12:30:00+02:00</lastmod></url>\n" +
        "<url><loc>https://h.example/nolastmod</loc></url>\n" +
        "<url><loc>ftp://h.example/skip</loc></url>\n" +
        "<url><lastmod>2024-01-01</lastmod></url>\n" + // no loc → skipped
        "</urlset>"
    val r = LinkOps.parseSitemap(xml)
    assert(r.map(_._1) == Seq("https://h.example/a",
      "https://h.example/q?a=1&b=2", "https://h.example/nolastmod"))
    assert(r(0)._2 == java.sql.Timestamp.from(java.time.Instant.parse("2024-03-05T00:00:00Z")))
    assert(r(1)._2 == java.sql.Timestamp.from(java.time.Instant.parse("2025-06-15T10:30:00Z")))
    assert(r(2)._2 == java.sql.Timestamp.from(java.time.Instant.EPOCH)) // sentinel
    assert(r.forall(!_._3))
    // sitemap index
    val idx = LinkOps.parseSitemap(
      "<sitemapindex><sitemap><loc>https://h.example/s-a.xml</loc>" +
        "<lastmod>bogus-date</lastmod></sitemap></sitemapindex>")
    assert(idx == Seq(("https://h.example/s-a.xml",
      java.sql.Timestamp.from(java.time.Instant.EPOCH), true)))
    // junk never throws, yields nothing
    assert(LinkOps.parseSitemap("not xml at all <<<").isEmpty)
    assert(LinkOps.parseSitemap("").isEmpty)
  }

  test("sitemapRecrawl: new / stale / fresh-dropped / index classification") {
    val t = (s: String) => java.sql.Timestamp.from(java.time.Instant.parse(s))
    val entries = Seq(
      ("h.example", "https://h.example/new1", t("2024-05-05T00:00:00Z"), false),
      ("h.example", "https://h.example/stale1", t("2025-01-01T00:00:00Z"), false),
      ("h.example", "https://h.example/fresh1", t("2023-01-01T00:00:00Z"), false),
      // absent lastmod (epoch sentinel) on a crawled url → never stale
      ("h.example", "https://h.example/fresh2",
        java.sql.Timestamp.from(java.time.Instant.EPOCH), false),
      ("h.example", "https://h.example/child.xml", t("2024-03-01T00:00:00Z"), true))
      .toDF("host", "loc", "lastmod", "is_index")
    val snap = Seq(
      ("https://h.example/stale1", t("2024-06-01T00:00:00Z")),
      ("https://h.example/fresh1", t("2024-06-01T00:00:00Z")),
      ("https://h.example/fresh2", t("2024-06-01T00:00:00Z")))
      .toDF("url", "warc_ts")
    val r = LinkOps.sitemapRecrawl(entries, snap).orderBy("url")
      .select("url", "status").as[(String, String)].collect().toSeq
    assert(r == Seq(
      ("https://h.example/child.xml", "index"),
      ("https://h.example/new1", "new"),
      ("https://h.example/stale1", "stale")))
  }

  test("crawlFrontier: anti-join, robots drop, blocklist drop, per-host top-k by inlinks") {
    val corpus = Seq("https://a.example/html/doc1").toDF("url")
    val links = Seq(
      // already crawled → excluded by the anti-join
      ("https://a.example/p", "https://a.example/html/doc1"),
      // 3 inlinks → top candidate on a.example
      ("https://s1/x", "https://a.example/html/new1"),
      ("https://s2/x", "https://a.example/html/new1"),
      ("https://s3/x", "https://a.example/html/new1"),
      // 1 inlink each; url order breaks the tie for the k=2 cap
      ("https://s1/x", "https://a.example/html/new2"),
      ("https://s1/y", "https://a.example/html/new3"),
      // robots-disallowed path on a.example
      ("https://s1/z", "https://a.example/private/secret"),
      // blocked host (subdomain of the blocklist entry)
      ("https://s1/w", "https://sub.bad.example/page"))
      .toDF("src", "dst")
    val rules = Seq(("a.example", "/private/", false)).toDF("host", "prefix", "is_allow")
    val blk = Seq("bad.example").toDF("domain")
    val r = LinkOps.crawlFrontier(corpus, links, rules, blk, perHostK = 2L)
      .orderBy("url").as[(String, String, Long)].collect().toSeq
    assert(r == Seq(
      ("https://a.example/html/new1", "a.example", 3L),
      ("https://a.example/html/new2", "a.example", 1L)))
  }

  test("blocksOfDom/mainContent: leaf blocks in document order, link density, nested deferral, minWords") {
    import java.nio.charset.StandardCharsets.UTF_8
    val html = ("""<html><body>""" +
      // nav: link-only leaf block (header container holds it → nav is leaf)
      """<nav><a href="/a">Home</a> <a href="/b">About</a></nav>""" +
      // content paragraph: 12 words, no links
      """<p>one two three four five six seven eight nine ten eleven twelve</p>""" +
      // nested container: outer div defers to its inner p (only the p emits)
      """<div>ignored raw<p>alpha beta gamma delta epsilon zeta eta theta iota kappa lambda</p></div>""" +
      // link-dense long block: 11 words but most chars under <a> → boilerplate
      """<p>read <a href="/x">this very long linked text here now ok</a> thanks</p>""" +
      // short block: under minWords → boilerplate
      """<p>too short</p>""" +
      // empty block: never emitted
      """<p>   </p>""" +
      """</body></html>""").getBytes(UTF_8)
    val rows = Seq(("https://m.example/p", html)).toDF("url", "html")
    val blocks = LinkOps.extractBlocks(rows)
      .as[(String, Long, String, String, Long, Long, Long)].collect().toSeq
    assert(blocks.map(b => (b._2, b._3)) ==
      Seq((0L, "nav"), (1L, "p"), (2L, "p"), (3L, "p"), (4L, "p")))
    val byNo = blocks.map(b => b._2 -> b).toMap
    // anchors linked 9 of 10 chars (the joining space is outside both <a>s)
    assert(byNo(0L)._4 == "Home About" && byNo(0L)._5 == 10L && byNo(0L)._6 == 9L)
    assert(byNo(1L)._7 == 12L && byNo(1L)._6 == 0L)
    assert(byNo(2L)._4.startsWith("alpha") && byNo(2L)._7 == 11L)
    // 10 words — passes minWords but fails the link-density test
    assert(byNo(3L)._7 == 10L && byNo(3L)._6 * 1000000L > 300000L * byNo(3L)._5)
    val mc = LinkOps.mainContent(rows)
      .as[(String, String, Long, Long)].collect().head
    assert(mc._3 == 2L && mc._4 == 5L)
    assert(mc._2 ==
      "one two three four five six seven eight nine ten eleven twelve\n\n" +
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda")
    // non-HTML payload: no blocks, no main-content row
    val pdf = Seq(("https://m.example/d", "%PDF-1.4 garbage".getBytes(UTF_8)))
      .toDF("url", "html")
    assert(LinkOps.extractBlocks(pdf).count() == 0L)
  }

  test("bitextCandidates: edge normalization, lang-differ, length-ratio gate, empty-doc exclusion") {
    val docs = Seq(
      ("https://x/en", "en", "one two three four five six"),      // 6 tokens
      ("https://x/fr", "fr", "un deux trois quatre cinq"),        // 5 — within 2x of 6
      ("https://x/de", "de", "eins"),                             // 1 — ratio vs 6 fails
      ("https://x/en2", "en", "seven eight nine ten"),            // same lang as en
      ("https://x/zz", "zz", "")).toDF("url", "lang", "text")     // empty
    val edges = Seq(
      ("https://x/en", "https://x/fr"),   // keep
      ("https://x/fr", "https://x/en"),   // mutual duplicate → one row
      ("https://x/en", "https://x/de"),   // ratio gate kills (6 vs 1)
      ("https://x/en", "https://x/en2"),  // same language
      ("https://x/fr", "https://x/zz"),   // empty side
      ("https://x/en", "https://x/en")).toDF("url", "alt_url") // self edge
    val out = LinkOps.bitextCandidates(docs, edges)
      .as[(String, String, String, String, Long, Long)].collect().toSeq
    assert(out == Seq(("https://x/en", "https://x/fr", "en", "fr", 6L, 5L)))
    // a wider gate admits the 6:1 pair
    val wide = LinkOps.bitextCandidates(docs, edges, maxLenRatioPct = 600L)
      .as[(String, String, String, String, Long, Long)].collect()
    assert(wide.length == 2)
  }

  test("crawlDelayOf: agent scoping, first-wins, non-integer/negative fail-open") {
    val body = "User-agent: specialbot\nDisallow: /\nCrawl-delay: 60\n\n" +
      "User-agent: *\nDisallow: /x\nCrawl-delay: 2\nCrawl-delay: 9\n"
    assert(LinkOps.crawlDelayOf(body) == Some(2L))              // * group; first wins
    assert(LinkOps.crawlDelayOf(body, "SpecialBot") == Some(60L)) // exact group, case-insensitive
    assert(LinkOps.crawlDelayOf("User-agent: *\nDisallow: /\n") == None)
    assert(LinkOps.crawlDelayOf("User-agent: *\nCrawl-delay: 0.5\n") == None)
    assert(LinkOps.crawlDelayOf("User-agent: *\nCrawl-delay: -3\n") == None)
    assert(LinkOps.crawlDelayOf(null) == None)
    // crawl-delay pins the open group like a rule: the next user-agent
    // line starts a NEW group
    val pinned = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /y\n"
    assert(LinkOps.crawlDelayOf(pinned, "a") == Some(5L))
    assert(LinkOps.crawlDelayOf(pinned, "b") == None)
    assert(LinkOps.parseRobotsTxt(pinned, "a") == Nil)
    assert(LinkOps.parseRobotsTxt(pinned, "b") == Seq(("/y", false)))
  }

  test("hostFetchBudgets + politeFrontier: integer budgets, zero-budget and budget-less hosts fetch nothing") {
    val robots = Seq(
      ("fast.example", "User-agent: *\nDisallow: /x\nCrawl-delay: 2\n"),
      ("slow.example", "User-agent: *\nDisallow: /x\nCrawl-delay: 1000\n"),
      ("plain.example", "# nothing\n")).toDF("host", "body")
    val budgets = LinkOps.hostFetchBudgets(robots, windowSec = 600L, defaultDelaySec = 5L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(budgets("fast.example") == ((2L, 300L)))
    assert(budgets("slow.example") == ((1000L, 0L))) // delay > window: fetch nothing
    assert(budgets("plain.example") == ((5L, 120L)))
    // frontier: 3 urls on fast (budget 300 → all), 2 on slow (budget 0 →
    // none), 2 on a host with NO budget row (→ none)
    val frontier = Seq(
      (1L, "fast.example"), (2L, "fast.example"), (3L, "fast.example"),
      (4L, "slow.example"), (5L, "slow.example"),
      (6L, "nobudget.example"), (7L, "nobudget.example")).toDF("id", "host")
    val kept = LinkOps.politeFrontier(frontier,
        LinkOps.hostFetchBudgets(robots, 600L, 5L))
      .as[(Long, String)].collect().map(_._1).toSet
    assert(kept == Set(1L, 2L, 3L))
    // a binding budget caps exactly, deterministically
    val tiny = LinkOps.politeFrontier(frontier,
        Seq(("fast.example", 2L, 2L)).toDF("host", "crawl_delay_sec", "max_fetches"))
      .as[(Long, String)].collect()
    assert(tiny.length == 2 && tiny.forall(_._2 == "fast.example"))
  }

  test("recrawlSchedule: interval policy branches, clamps, integral ppm, same-second tie-break") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val hist = Seq(
      // single observation → base interval
      ("u/single", ts(1000L), "d0"),
      // 3 versions, never changed → backoff 2 × mean gap (2 × 100 = 200)
      ("u/static", ts(1000L), "s"), ("u/static", ts(1100L), "s"), ("u/static", ts(1200L), "s"),
      // 3 versions, 2 changes over span 200 → 200 DIV 2 = 100, ppm 1e6
      ("u/hot", ts(1000L), "a"), ("u/hot", ts(1100L), "b"), ("u/hot", ts(1200L), "c"),
      // 2 versions, 1 change over a huge span → clamped to max
      ("u/slow", ts(0L), "a"), ("u/slow", ts(10000000L), "b"),
      // 2 versions SAME second, different digest → span 0 → clamped to min;
      // lag order is (ts, digest), so the transition counts exactly once
      ("u/tie", ts(1000L), "x"), ("u/tie", ts(1000L), "y"))
      .toDF("url", "warc_ts", "digest")
    val out = LinkOps.recrawlSchedule(hist,
        baseIntervalSec = 500L, minIntervalSec = 50L, maxIntervalSec = 5000L)
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("u/single") == (("u/single", 1L, 0L, 0L, 0L, 500L, 1500L)))
    assert(out("u/static") == (("u/static", 3L, 0L, 200L, 0L, 200L, 1400L)))
    assert(out("u/hot")    == (("u/hot", 3L, 2L, 200L, 1000000L, 100L, 1300L)))
    assert(out("u/slow")   == (("u/slow", 2L, 1L, 10000000L, 1000000L, 5000L, 10005000L)))
    assert(out("u/tie")    == (("u/tie", 2L, 1L, 0L, 1000000L, 50L, 1050L)))
  }

  test("snapshotChangeMagnitude: lag pairing, multiset overlap, change grades") {
    import java.sql.Timestamp
    def ts(h: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    val snaps = Seq(
      // u1: identical re-fetch -> change 0
      ("https://a.example/u1", ts(1), "alpha beta gamma"),
      ("https://a.example/u1", ts(2), "alpha beta gamma"),
      // u2: fully rewritten -> change 1e6
      ("https://a.example/u2", ts(1), "old stuff here"),
      ("https://a.example/u2", ts(2), "completely different now"),
      // u3: DOUBLED text -> recall vs prev total, precision exactly half
      ("https://a.example/u3", ts(1), "tok tok two"),
      ("https://a.example/u3", ts(2), "tok tok two tok tok two"),
      // u4: three versions -> two pair rows, each vs its own predecessor
      ("https://a.example/u4", ts(1), "a b c d"),
      ("https://a.example/u4", ts(2), "a b c d e"),
      ("https://a.example/u4", ts(3), "a b"),
      // u5: single version -> no row
      ("https://a.example/u5", ts(1), "lonely")
    ).toDF("url", "warc_ts", "text")
    val out = LinkOps.snapshotChangeMagnitude(snaps)
      .orderBy("url", "ts_ms").collect()
    assert(out.length == 5)
    val byKey = out.map(r => (r.getAs[String]("url"), r.getAs[Long]("ts_ms")) -> r).toMap
    def at(u: String, h: Int) = byKey((s"https://a.example/$u", ts(h).getTime))
    assert(at("u1", 2).getAs[Long]("change_ppm") == 0L)
    assert(at("u1", 2).getAs[Long]("f1_ppm") == 1000000L)
    assert(at("u2", 2).getAs[Long]("n_inter") == 0L)
    assert(at("u2", 2).getAs[Long]("change_ppm") == 1000000L)
    // u3: n_prev=3, n_curr=6, inter=3 (multiset min: tok 2, two 1)
    val u3 = at("u3", 2)
    assert(u3.getAs[Long]("n_prev") == 3L && u3.getAs[Long]("n_curr") == 6L)
    assert(u3.getAs[Long]("n_inter") == 3L)
    assert(u3.getAs[Long]("precision_ppm") == 500000L)
    assert(u3.getAs[Long]("recall_ppm") == 1000000L)
    // f1 = 2*5e5*1e6/(15e5) = 666666 (truncating)
    assert(u3.getAs[Long]("f1_ppm") == 666666L)
    assert(u3.getAs[Long]("change_ppm") == 333334L)
    // u4 pairs each version against its OWN predecessor, not the first
    val u4a = at("u4", 2); val u4b = at("u4", 3)
    assert(u4a.getAs[Long]("prev_ts_ms") == ts(1).getTime)
    assert(u4a.getAs[Long]("n_inter") == 4L)
    assert(u4b.getAs[Long]("prev_ts_ms") == ts(2).getTime)
    assert(u4b.getAs[Long]("n_prev") == 5L && u4b.getAs[Long]("n_curr") == 2L)
    assert(u4b.getAs[Long]("n_inter") == 2L)
    // single-version u5 emits nothing
    assert(!out.exists(_.getAs[String]("url").endsWith("u5")))
    // null text counts as empty on either side
    val withNull = Seq(
      ("https://a.example/u6", ts(1), null.asInstanceOf[String]),
      ("https://a.example/u6", ts(2), "x y")).toDF("url", "warc_ts", "text")
    val r6 = LinkOps.snapshotChangeMagnitude(withNull).collect()
    assert(r6.length == 1 && r6(0).getAs[Long]("n_prev") == 0L &&
      r6(0).getAs[Long]("n_curr") == 2L && r6(0).getAs[Long]("change_ppm") == 1000000L)
  }
}
