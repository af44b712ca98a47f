package graft.spark

import graft.TempDirs
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Home-page fallback scheduling on probe failures (reference
  * discovery/__init__.py: request_error :267-281 →
  * _process_robots_txt_error :330-333, sitemap-error home :280-281, and
  * the invalid-robots parse path :284-310 — every non-fatal way a
  * domain's probe can fail still schedules its home page at 0.8, so
  * robots-less domains get crawled; a fatal (DNS-class) error kills the
  * domain instead). */
class HomeFallbackSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def discFrontier(root: String) =
    new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      ordering = graft.local.QueueOrdering.ScoreCreatedDesc,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = true, justifyScores = false,
        fatalErrorPattern = "DNSLookupError")))

  test("robots probe 404 (non-fatal): home page scheduled at 0.8 and crawled") {
    val root = tempDir("graft-hf404").toString
    val f = discFrontier(root)
    val web = Seq(
      ("http://norobots.com/", Seq("http://norobots.com/a")))
      .toDF("url", "outlinks")
    f.addSeedsDiscovery(Seq("http://norobots.com/page"))
    // the robots probe fetch FAILS (404-class, non-fatal)
    val c = new SparkCrawler(f, web, 100,
      fetchError = Some($"url".endsWith("/robots.txt")))
    val seq = c.run(maxEpochs = 10)
    assert(seq.head == "http://norobots.com/robots.txt")
    assert(seq.contains("http://norobots.com/"),
      s"home page must be scheduled despite the failed robots probe: $seq")
    assert(seq.contains("http://norobots.com/a"),
      s"the domain keeps crawling from its home page: $seq")
    // probe itself is ERROR state, never re-scheduled
    assert(seq.count(_ == "http://norobots.com/robots.txt") == 1)
  }

  test("fatal probe error (DNS-class) kills the domain: no home-page fallback") {
    val root = tempDir("graft-hffatal").toString
    // the crawler's synthesized error string is "fetch failed: <url>" —
    // making that the fatal pattern turns the probe failure DNS-class
    val f = new SparkFrontier(spark, root, partitions = 4, stateBuckets = 4,
      strategy = ScoreStrategy.Basic, globalOrder = true,
      ordering = graft.local.QueueOrdering.ScoreCreatedDesc,
      discovery = Some(DiscoveryConfig(maxPagesPerDomain = 100,
        sameDomainOnly = true, justifyScores = false,
        fatalErrorPattern = "fetch failed")))
    val web = Seq(
      ("http://dead.com/", Seq("http://dead.com/a")))
      .toDF("url", "outlinks")
    f.addSeedsDiscovery(Seq("http://dead.com/page"))
    val c = new SparkCrawler(f, web, 100,
      fetchError = Some($"url".endsWith("/robots.txt")))
    val seq = c.run(maxEpochs = 10)
    assert(seq == List("http://dead.com/robots.txt"),
      s"a fatal probe error must not schedule the home page: $seq")
    assert(f.queueSize() == 0)
    val dm = f.readDomainMeta().filter($"domain" === "dead.com")
      .select($"fatal_error").as[String].collect()
    assert(dm.length == 1 && dm.head != null)
  }

  test("sitemap probe failure still schedules the home page (accessible domain)") {
    val root = tempDir("graft-hfsm").toString
    val f = discFrontier(root)
    val robotsBody = "User-agent: *\nSitemap: http://smfail.com/sitemap.xml\n"
    val bodies = Seq(("http://smfail.com/robots.txt", robotsBody))
      .toDF("url", "body")
    val web = Seq(("http://smfail.com/", Seq("http://smfail.com/a")))
      .toDF("url", "outlinks")
    f.addSeedsDiscovery(Seq("http://smfail.com/page"))
    val c = new SparkCrawler(f, web, 100, bodies = Some(bodies),
      fetchError = Some($"url".endsWith("/sitemap.xml")))
    val seq = c.run(maxEpochs = 10)
    // robots ok -> sitemap probe + home; sitemap FAILS -> home fallback
    // (home was already scheduled by the robots response; the fallback
    // dedupes against states, so exactly one home crawl)
    assert(seq.count(_ == "http://smfail.com/") == 1, seq.toString)
    assert(seq.contains("http://smfail.com/a"))
  }

  test("invalid robots body: home page scheduled, sitemap directives NOT probed") {
    val root = tempDir("graft-hfinv").toString
    val f = discFrontier(root)
    // not a valid robots.txt (no User-agent/Disallow/Allow/Sitemap
    // structure the validator accepts) but contains a Sitemap:-looking
    // line that must NOT be trusted
    val invalidBody = "<html><body>404 not found\nSitemap: http://inv.com/sitemap.xml\n</body></html>"
    val bodies = Seq(("http://inv.com/robots.txt", invalidBody))
      .toDF("url", "body")
    val web = Seq(("http://inv.com/", Seq("http://inv.com/a")))
      .toDF("url", "outlinks")
    f.addSeedsDiscovery(Seq("http://inv.com/page"))
    val c = new SparkCrawler(f, web, 100, bodies = Some(bodies))
    val seq = c.run(maxEpochs = 10)
    assert(seq.contains("http://inv.com/"),
      s"invalid robots body still schedules the home page: $seq")
    assert(!seq.exists(_.contains("sitemap")),
      s"sitemap directives from an invalid robots body must not be probed: $seq")
    assert(seq.contains("http://inv.com/a"))
  }

  test("errored probe's fallback sees its domain's ban row under pruned reads") {
    // regression: processCrawled's internally-derived domain-bucket
    // pruning set must cover ERROR parents too — an epoch whose pages
    // all hash elsewhere would otherwise prune the failed domain's
    // banned/fatal/budget row out of the very join that must drop its
    // home-page fallback (no caller-supplied parentDBuckets here: the
    // bus-replay / bench-mode path)
    val root = tempDir("graft-hfbanprune").toString
    val f = discFrontier(root)
    val part = (h: String) => graft.core.Hashing.crc32Partition(h, 4)
    val banned = (1 to 50).map(i => s"banned$i.com")
      .find(h => part(h) != part("pages.com")).get
    f.banDomains(Seq(banned))
    val pages = Seq((graft.core.Hashing.urlFingerprint("http://pages.com/x"),
      "http://pages.com/x", 1, 0.5, 10L))
      .toDF("fingerprint", "url", "depth", "score", "created_at")
    val links = Seq(("http://pages.com/x", 0.5, 10L, 1, 0, "http://pages.com/y"))
      .toDF("parent_url", "parent_score", "parent_created", "parent_depth",
        "link_idx", "link_url")
    val errors = Seq(
      (graft.core.Hashing.urlFingerprint(s"http://$banned/robots.txt"),
        s"http://$banned/robots.txt", 0.9, 0, 10L, "fetch failed: 404"))
      .toDF("fingerprint", "url", "score", "depth", "created_at", "error")
    f.processCrawled(pages, links, f.epoch + 1, errors = Some(errors))
    val queued = f.queue.read(spark).select($"url").as[String].collect().toSet
    assert(queued.contains("http://pages.com/y"),
      s"the healthy domain's link still schedules: $queued")
    assert(!queued.exists(_.contains(banned)),
      s"banned domain's home-page fallback must be dropped: $queued")
  }
}
